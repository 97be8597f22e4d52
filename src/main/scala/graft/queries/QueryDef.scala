package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-checkable query: a Spark plan over the parquet tables under
  * `dir`, plus (when SQL-expressible) an equivalent DuckDB oracle on the
  * same tables. Column names must match the oracle exactly — the driver
  * sorts columns by name before hashing values.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

object QueryDef {
  /** Read one testdata table (TESTDATA.md: one parquet file per table). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** Identifier-safe slug of a data directory, for per-dir catalog table
    * and scratch-path names (ADVICE r6): the previous
    * `math.abs(dir.hashCode)` stayed negative for Int.MinValue (invalid
    * in an identifier) and let distinct dirs collide, overwriting each
    * other's index tables under interleaved gate runs. The sanitized
    * fragment keeps the name readable; the appended md5 prefix of the
    * RAW dir string makes the slug collision-free even for dirs that
    * differ only in non-alphanumeric characters (ADVICE r7 — e.g.
    * sf0.01 vs sf0_01 sanitize identically).
    */
  def dirSlug(dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map(b => f"$b%02x").mkString
    dir.replaceAll("[^A-Za-z0-9]", "_").replaceAll("^_+", "") + "_" + digest
  }

  /** events.parquet has stored `ts` as TIMESTAMP(NANOS) in some fixture
    * generations (read as BIGINT nanos under
    * `spark.sql.legacy.parquet.nanosAsLong`, set at session build) and as
    * TIMESTAMP(MICROS) without a timezone in others (read natively as
    * TIMESTAMP_NTZ). Normalize EITHER encoding to a session-zone micros
    * timestamp with exact integer arithmetic: nanos -> `div 1000`
    * truncation (DuckDB's ns->us cast truncates identically), NTZ -> a
    * plain cast, which under the fixed UTC session zone relabels the
    * same wall-clock instant bit-identically to DuckDB's reading.
    */
  private def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Verify-layer rounding of double feature columns for hash-stable
    * DuckDB comparison — NOT part of the feature API (the engine's public
    * answer is unrounded; only the oracle diff needs stable decimals).
    * The +1e-6 epsilon mirrors FeatureSpec.toOracleSql: it shifts
    * decimal-exact rounding ties (e.g. an avg landing on .xxxx5) off the
    * boundary, where Spark's string-based Round and DuckDB's
    * multiply-based round would otherwise disagree.
    */
  def roundForOracle(df: DataFrame, spec: graft.features.FeatureSpec, scale: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, round}
    val cols = col(spec.keyCol) +: spec.features.map { f =>
      f.agg match {
        case graft.features.AggKind.Count => col(f.name)
        case _ => round(col(f.name) + lit(1e-6), scale).as(f.name)
      }
    }
    df.select(cols: _*)
  }
}
