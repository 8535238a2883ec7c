package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import graft.Tables

/** K73: STREAMING CDC compaction — K67's `cdc_replay` as a
  * continuously-maintained stateful stream: per-key state IS the
  * compacted row (last op, tombstone flag, op counts, resurrection
  * count), updated by `mapGroupsWithState` as the op log arrives and
  * re-emitted in Update mode — the live materialized view a
  * log-compacted store exposes, where the batch query is the
  * nightly rebuild.
  *
  * Ordering contract: CDC correctness requires per-key IN-ORDER
  * delivery (the Kafka partition guarantee). The harness stages the
  * log as two TIME-SPLIT waves (first half-span, then the rest) and
  * sorts each batch's per-key group by (event-time µs, event_id), so
  * the fold replays the exact global order — resurrection counting
  * is order-dependent and spans the wave boundary through the saved
  * `lastOp`, which is precisely what the second wave proves.
  *
  * State is deliberately NOT evicted ([[GroupStateTimeout.NoTimeout]]):
  * unlike G6's idle sessions — dead weight once the gap passes —
  * compaction state IS the product; evicting an entry would delete
  * that key from the materialized view. Width is one fixed-size row
  * per live key (the compacted table itself), on RocksDB state like
  * every stream here, which is exactly the footprint any
  * log-compacted store carries.
  *
  * Oracle: the SAME SQL as the batch `cdc_replay` — the stream's
  * final update per key must equal the batch replay bit-for-bit. */
object StreamCdc {

  case class Op(user_id: Long, ts: Timestamp, event_id: Long, event_type: String)
  case class CdcState(lastUs: Long, lastId: Long, lastOp: String,
                      nC: Long, nU: Long, nD: Long, nRes: Long, nOps: Long)
  case class Compacted(user_id: Long, alive: Boolean, last_ts: String,
                       last_op: String, n_creates: Long, n_updates: Long,
                       n_deletes: Long, n_resurrections: Long, n_ops: Long)

  private def us(t: Timestamp): Long =
    t.getTime * 1000 + (t.getNanos / 1000) % 1000

  /** Fold one batch's ops (sorted into event order) into the key's
    * compacted state; emit the updated compacted row. */
  def compact(user: Long, ops: Iterator[Op],
              state: GroupState[CdcState]): Compacted = {
    val sorted = ops.toSeq.sortBy(o => (us(o.ts), o.event_id))
    var st = state.getOption
      .getOrElse(CdcState(Long.MinValue, Long.MinValue, null, 0L, 0L, 0L, 0L, 0L))
    sorted.foreach { o =>
      val op = o.event_type match {
        case "signup" => "c"; case "error" => "d"; case _ => "u"
      }
      val (nc, nu, nd) = op match {
        case "c" => (st.nC + 1, st.nU, st.nD)
        case "u" => (st.nC, st.nU + 1, st.nD)
        case _   => (st.nC, st.nU, st.nD + 1)
      }
      val res = st.nRes + (if (op != "d" && st.lastOp == "d") 1L else 0L)
      st = CdcState(us(o.ts), o.event_id, op, nc, nu, nd, res, st.nOps + 1)
    }
    state.update(st)
    val sdf = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    sdf.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    Compacted(user, st.lastOp != "d",
      sdf.format(new java.util.Date(Math.floorDiv(st.lastUs, 1000L))),
      st.lastOp, st.nC, st.nU, st.nD, st.nRes, st.nOps)
  }

  def run(s: SparkSession, dir: String): DataFrame = Staging.run(s) { r =>
    import s.implicits._
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    // time-split waves: [min, min+15d) then the rest — per-key
    // in-order delivery across batches, the CDC transport contract
    val minTs = e.agg(min(col("ts"))).head.getTimestamp(0)
    val cut = new Timestamp(minTs.getTime + 15L * 86400 * 1000)

    // the per-key ordering contract REQUIRES each staged wave to be
    // consumed as exactly ONE micro-batch (compact() sorts only within
    // a batch): the watch source never splits a wave, and the counts
    // are ASSERTED — a violated contract must fail loudly, not ship
    // wrong resurrection counts
    val Seq(bA, bB) = r.drive(
        Staging.Wave("ops" -> e.filter(col("ts") < lit(cut))),
        Staging.Wave("ops" -> e.filter(col("ts") >= lit(cut))))(
      r.toMemory(r.watch("ops", e.schema).as[Op]
        .groupByKey(_.user_id)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(compact), "update"))
    require(bA == 1L,
      s"wave A consumed as $bA micro-batches — per-key order contract broken")
    require(bB == 1L,
      s"wave B consumed as $bB micro-batches — per-key order contract broken")
    // Update sink: one row per key per batch-with-updates; the final
    // compacted row is the one with the largest op count (strictly
    // increasing per update, so the struct max is the last state)
    r.table()
      .groupBy(col("user_id"))
      .agg(max(struct(col("n_ops"), col("alive"), col("last_ts"), col("last_op"),
        col("n_creates"), col("n_updates"), col("n_deletes"),
        col("n_resurrections"))).as("m"))
      .select(col("user_id"), col("m.alive").as("alive"),
        col("m.last_ts").as("last_ts"), col("m.last_op").as("last_op"),
        col("m.n_creates").as("n_creates"), col("m.n_updates").as("n_updates"),
        col("m.n_deletes").as("n_deletes"),
        col("m.n_resurrections").as("n_resurrections"))
      .localCheckpoint()
  }
}
