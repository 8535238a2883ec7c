package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import graft.Tables

/** K84: STREAMING WINDOWED FUNNEL — K70's 24-hour strict-sequence
  * funnel as a continuously-maintained stateful stream: per-user
  * state is the greedy earliest chain (t0 view → t1 click → t2
  * purchase, each within [[graft.queries.Behavior.FunnelWindowHours]]
  * of t0), advanced by `mapGroupsWithState` as events arrive and
  * re-emitted per batch in Update mode — the live conversion
  * dashboard whose nightly rebuild is the batch K70.
  *
  * Ordering contract: like [[StreamCdc]], per-key IN-ORDER delivery
  * across batches (the Kafka partition guarantee), staged as two
  * TIME-SPLIT waves with each batch's per-user group sorted by
  * (event-time µs, event_id). The greedy chain is fold-stable under
  * that contract: a later wave only carries later timestamps, so the
  * stored t0/t1 can never be undercut. The wave CUT is chain-aware —
  * the latest converting user's click time — so at least one
  * conversion chain SPANS the boundary and the second wave proves
  * cross-batch state (a calendar cut never splits a 24 h chain;
  * measured: zero straddlers at min+15 d on every test sf).
  *
  * State: three fixed µs slots per user, NoTimeout — like K73, the
  * funnel position IS the product; at 100 TB the RocksDB footprint is
  * user cardinality × one fixed row.
  *
  * Oracle: the SAME SQL as the batch `window_funnel` — the stream's
  * final level/latency distribution must equal the batch replay
  * bit-for-bit. */
object StreamFunnel {

  case class Ev(user_id: Long, ts: Timestamp, event_id: Long, event_type: String)
  /** µs slots; Long.MinValue = unset. */
  case class Chain(t0: Long, t1: Long, t2: Long, nSeen: Long)
  case class UserLevel(user_id: Long, level: Int, conv_us: java.lang.Long, n_seen: Long)

  private def us(t: Timestamp): Long =
    t.getTime * 1000 + (t.getNanos / 1000) % 1000

  private val Unset = Long.MinValue

  private def winUs: Long =
    graft.queries.Behavior.FunnelWindowHours.toLong * 3600L * 1000000L

  /** Fold one batch's events (sorted into event order) into the
    * user's greedy chain; emit the updated level row. */
  def advance(user: Long, evs: Iterator[Ev],
              state: GroupState[Chain]): UserLevel = {
    val sorted = evs.toSeq.sortBy(e => (us(e.ts), e.event_id))
    var st = state.getOption.getOrElse(Chain(Unset, Unset, Unset, 0L))
    sorted.foreach { e =>
      val t = us(e.ts)
      e.event_type match {
        case "view" if st.t0 == Unset => st = st.copy(t0 = t)
        case "click" if st.t0 != Unset && st.t1 == Unset &&
          t > st.t0 && t <= st.t0 + winUs => st = st.copy(t1 = t)
        case "purchase" if st.t1 != Unset && st.t2 == Unset &&
          t > st.t1 && t <= st.t0 + winUs => st = st.copy(t2 = t)
        case _ => ()
      }
    }
    st = st.copy(nSeen = st.nSeen + sorted.length)
    state.update(st)
    val level = if (st.t2 != Unset) 3 else if (st.t1 != Unset) 2
      else if (st.t0 != Unset) 1 else 0
    val conv: java.lang.Long = if (st.t2 != Unset) st.t2 - st.t0 else null
    UserLevel(user, level, conv, st.nSeen)
  }

  /** Chain-aware wave cut: the latest converting user's CLICK time —
    * its t0 lands in wave A, its t1/t2 in wave B. Falls back to the
    * span midpoint when no user converts. */
  private[graft] def chainCut(s: SparkSession, dir: String): Timestamp = {
    val wu = Window.partitionBy(col("user_id"))
    val win = expr(s"INTERVAL ${graft.queries.Behavior.FunnelWindowHours} HOURS")
    val staged = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("t0", min(when(col("event_type") === "view", col("ts"))).over(wu))
      .withColumn("t1", min(when(col("event_type") === "click" &&
        col("ts") > col("t0") && col("ts") <= col("t0") + win, col("ts"))).over(wu))
      .withColumn("t2", min(when(col("event_type") === "purchase" &&
        col("ts") > col("t1") && col("ts") <= col("t0") + win, col("ts"))).over(wu))
    val r = staged.filter(col("t2").isNotNull).agg(max(col("t1")).as("cut")).head
    Option(r.getTimestamp(0)).getOrElse {
      val span = Tables.events(s, dir).agg(min(col("ts")), max(col("ts"))).head
      new Timestamp((span.getTimestamp(0).getTime + span.getTimestamp(1).getTime) / 2)
    }
  }

  def run(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val cut = chainCut(s, dir)

    val base = Files.createTempDirectory(Paths.get("target"), "stream_funnel")
    val watch = Files.createDirectory(base.resolve("ops"))
    val mem = "stream_funnel_" + java.util.UUID.randomUUID().toString.replace("-", "")

    val q = s.readStream.schema(e.schema)
      // single-batch-per-wave: the ordering contract (the StreamCdc
      // guard) — pinned AND asserted, never assumed
      .option("maxFilesPerTrigger", "1000000")
      .parquet(watch.toString).as[Ev]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(advance)
      .writeStream.format("memory").queryName(mem).outputMode("update")
      .start()
    try {
      def dataBatches(): Long = q.recentProgress.count(_.numInputRows > 0).toLong
      Staging.stage(e.filter(col("ts") < lit(cut)), watch.toString, "wave_a")
      q.processAllAvailable()
      require(dataBatches() == 1L, "wave A split across micro-batches — order contract broken")
      Staging.stage(e.filter(col("ts") >= lit(cut)), watch.toString, "wave_b")
      q.processAllAvailable()
      require(dataBatches() == 2L, "wave B split across micro-batches — order contract broken")
    } finally q.stop()
    // final update per user = the row with the largest nSeen (strictly
    // increasing per update); then the batch K70 rollup
    val fin = s.table(mem)
      .groupBy(col("user_id"))
      .agg(max(struct(col("n_seen"), col("level"),
        coalesce(col("conv_us"), lit(-1L)).as("cv"))).as("m"))
      .select(col("user_id"), col("m.level").as("level"),
        when(col("m.cv") >= 0L, col("m.cv")).as("conv_us"))
    val out = fin.groupBy(col("level"))
      .agg(count(lit(1)).as("n_users"),
        graft.Portable.pround(sum(col("conv_us")).cast("double") /
          (lit(1e6) * count(col("conv_us"))), 2).as("avg_conv_secs"))
      .localCheckpoint()
    s.catalog.dropTempView(mem)
    Staging.clearDir(watch)
    Files.deleteIfExists(base)
    out
  }
}
