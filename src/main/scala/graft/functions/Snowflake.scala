package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Discord snowflake id → event-time conversion.
  *
  * Semantics from the reference's `parseSnowflake`
  * (utils.go:290-297): ms = (id >> 22) + 1420070400000. Pure column
  * arithmetic — stays inside whole-stage codegen, no UDF.
  */
object Snowflake {
  val DiscordEpochMs: Long = 1420070400000L

  /** snowflake id → epoch milliseconds. */
  def snowflakeMs(id: Column): Column =
    shiftright(id, 22) + lit(DiscordEpochMs)
}
