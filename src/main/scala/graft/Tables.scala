package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampNTZType, TimestampType}

/** Parquet table loaders + oracle-parity helpers.
  *
  * Every query in the engine reads its inputs through [[Tables.apply]] so
  * the scale-factor directory is always a runtime parameter (never
  * hardcoded), per the driver contract (SURVEY.md §0).
  */
object Tables {
  /** All driver-generated tables: the 8 documented in TESTDATA.md plus
    * `documents`/`embeddings`, which ship on disk at every sf for the
    * LLM-pipeline operators (SURVEY.md §2.9). */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Timestamp-literal filters (e.g. q01's shipdate bound) only match the
    // DuckDB oracle under a pinned session timezone; every entry point
    // (through Harness.session, tests too) sets UTC. Fail fast
    // if a new caller forgets, instead of silently shifting date bounds.
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "graft queries require spark.sql.session.timeZone=UTC " +
        "(oracle-parity contract; see ADVICE.md r1)")
    if (name == "events") {
      // events.ts has shipped as both parquet TIMESTAMP(NANOS) and
      // TIMESTAMP(MICROS) across testdata generations (VERDICT r7: the
      // loader must tolerate data-contract drift, not assume one shape).
      // Read under the legacy nanos conf — a no-op for micros files, and
      // the only way a NANOS file's schema even infers — then branch on
      // the dtype `ts` actually arrived as. The conf is saved/restored so
      // the shared session's behavior for any other raw nanos-parquet
      // read is untouched (ADVICE r2); the DataFrame stays valid because
      // the conf is captured at analysis time.
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "true")
      try {
        val raw = spark.read.parquet(s"$dir/$name.parquet")
        raw.schema("ts").dataType match {
          case LongType =>
            // TIMESTAMP(NANOS) file: raw INT64 nanos. Truncate to micros —
            // the same conversion DuckDB applies scanning TIMESTAMP_NS into
            // its µs TIMESTAMP — with floor division (not `div`, which
            // truncates toward zero) so pre-epoch values convert exactly
            // like DuckDB's floor-based conversion. Integer-only: int64
            // nanos exceed 2^53, a double round-trip would lose precision.
            raw.withColumn("ts",
              expr("timestamp_micros(if(ts % 1000 < 0, ts div 1000 - 1, ts div 1000))"))
          case TimestampNTZType =>
            // TIMESTAMP(MICROS, isAdjustedToUTC=false): same wall-clock
            // instants DuckDB sees. Cast to session-zoned TimestampType
            // (UTC pinned above) so downstream queries and written results
            // keep the exact type shape the NANOS path produced.
            raw.withColumn("ts", col("ts").cast(TimestampType))
          case _ =>
            raw // already TimestampType — nothing to normalize
        }
      } finally {
        prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
    } else {
      spark.read.parquet(s"$dir/$name.parquet")
    }
  }
}

/** Helpers that make float aggregates hash-identical between Spark and the
  * DuckDB oracle (SURVEY.md §7.4 — the #1 failure mode).
  *
  * Doubles summed in nondeterministic partition order differ in final ulps
  * between engines (and between runs). Summing through DECIMAL is exact and
  * order-independent, so both engines produce bit-identical doubles after
  * the final cast. The money columns in testdata carry 2 decimal digits, so
  * DECIMAL(18,2) loses nothing.
  */
object OracleParity {
  private val D = DecimalType(18, 2)

  /** Cast a 2-decimal money double to exact decimal. */
  def dec(c: Column): Column = c.cast(D)

  /** Order-independent exact sum of a money column, returned as double.
    * Oracle equivalent: round(CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE), 2)
    */
  def moneySum(c: Column): Column = round(sum(dec(c)).cast("double"), 2)

  /** Exact decimal mean cast to double, rounded: sum(dec)/count in double.
    * Oracle: round(CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) / count(x), 6)
    */
  def moneyAvg(c: Column): Column =
    round(sum(dec(c)).cast("double") / count(c), 6)

  /** TPC-H style discounted revenue, exact in decimal then double.
    * Oracle: round(CAST(sum(CAST(p AS DECIMAL(18,2)) * (1 - CAST(d AS DECIMAL(18,2)))) AS DOUBLE), 2)
    */
  def revenueSum(price: Column, discount: Column): Column =
    round(sum(dec(price) * (lit(1).cast(D) - dec(discount))).cast("double"), 2)
}
