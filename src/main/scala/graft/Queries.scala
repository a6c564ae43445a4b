package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named, oracle-checked query: `run` is the Spark plan over the tables
  * in `sfDir`; `oracle` is equivalent ANSI/DuckDB SQL over the same
  * parquet tables (None → driver falls back to a rows-only check).
  * Column names and row order must match the oracle exactly — every
  * query ends in a deterministic ORDER BY and aliases every output. */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false)

object Queries {
  /** Read one testdata table (column-pruned, filter-pushdown-friendly).
    * `events.ts` has shipped both as parquet TIMESTAMP(MICROS) (reads
    * natively) and as TIMESTAMP(NANOS) (unrepresentable in Spark — lands
    * as a raw long under the legacy nanosAsLong mode that
    * `GraftSession.SharedConf` sets). Branch on the landed
    * type: a LongType column is nanos and gets truncated to microsecond
    * timestamps; a native timestamp is normalized to TIMESTAMP (the file
    * carries no UTC-adjustment flag so Spark infers TIMESTAMP_NTZ, which
    * rejects `cast(ts as bigint)` — with the session timezone pinned to
    * UTC the instant reinterpretation is value-identical to DuckDB's
    * naive read). All queries format at second granularity, so the
    * oracle matches in every mode. */
  def tbl(s: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name == "events") df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(col("ts") / 1000L cast "long"))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    } else df
  }

  lazy val all: Seq[Q] =
    RelQueries.all ++ TextQueries.all ++ VecQueries.all ++ CleanQueries.all

  lazy val byName: Map[String, Q] = all.map(q => q.name -> q).toMap
}
