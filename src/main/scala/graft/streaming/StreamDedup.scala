package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** K-line: streaming EXACTLY-ONCE ingest dedup — the at-least-once
  * delivery problem every streaming pipeline has (source retries,
  * producer resends) solved as keyed streaming state:
  * `dropDuplicatesWithinWatermark` on the event id. State holds one
  * entry per id INSIDE the watermark horizon and ages out behind it —
  * the bounded-state contract (an unbounded `dropDuplicates` would
  * retain every id ever seen; the flat-state property is spec-checked
  * across waves, the stream_topk harness).
  *
  * The op PLANTS the duplicates (the scrub_pii convention): every
  * event with id ≡ 5 mod 10 arrives a second time 10 minutes later —
  * inside the 1 h horizon, so the replay is provably dropped. Emits
  * per-type delivery accounting (arrivals vs unique vs dropped), the
  * report an ingest pipeline alarms on. Counts are keyed by
  * event_type only: WHICH copy survives a dedup race is engine
  * timing; the copies share a type, so per-type counts are
  * deterministic and the DuckDB oracle replays them exactly.
  *
  * Two streaming aggregates (arrivals, survivors) run as separate
  * queries — Structured Streaming allows one stateful aggregation
  * per query — and the consumer joins their monotone max() views,
  * same read pattern as stream_topk's. At scale each is one
  * partial-aggregated count shuffle; dedup state shuffles by id.
  */
object StreamDedup {

  val DupMod = 10L
  val DupRes = 5L
  val DupDelay = "INTERVAL 10 MINUTES"

  /** The planted at-least-once input: every DupMod-th event replays
    * once, 10 minutes later, same event_id. */
  def arrivals(events: DataFrame): DataFrame =
    events.unionByName(
      events.filter(col("event_id") % DupMod === DupRes)
        .withColumn("ts", col("ts") + expr(DupDelay)))

  /** Survivors: watermarked keyed dedup on the event id. */
  def dedup(arr: DataFrame): DataFrame =
    arr.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  def run(s: SparkSession, dir: String): DataFrame = Staging.run(s) { r =>
    val arr = arrivals(StreamIngest.readEvents(s, dir))
    r.drive()(
      r.toMemory(arr.groupBy(col("event_type")).agg(count(lit(1)).as("n")), "update", "arr"),
      r.toMemory(dedup(arr).groupBy(col("event_type")).agg(count(lit(1)).as("n")),
        "update", "uniq"))
    val arrN = r.table("arr").groupBy(col("event_type")).agg(max(col("n")).as("n_arrivals"))
    val uniqN = r.table("uniq").groupBy(col("event_type")).agg(max(col("n")).as("n_unique"))
    arrN.join(uniqN, "event_type")
      .select(col("event_type"), col("n_arrivals"), col("n_unique"),
        (col("n_arrivals") - col("n_unique")).as("n_dropped"))
  }

  /** DuckDB twin: replayed arrivals recounted relationally — unique
    * survivors are exactly the base events (every planted replay is a
    * true duplicate id inside the horizon). */
  val sql: String =
    s"""WITH arr AS (
       |  SELECT event_type, count(*) AS n FROM (
       |    SELECT event_type FROM events
       |    UNION ALL
       |    SELECT event_type FROM events WHERE event_id % $DupMod = $DupRes) GROUP BY 1),
       |uniq AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1)
       |SELECT arr.event_type, arr.n AS n_arrivals, uniq.n AS n_unique,
       |  arr.n - uniq.n AS n_dropped
       |FROM arr JOIN uniq USING (event_type)""".stripMargin
}
