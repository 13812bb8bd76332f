package graft

import org.apache.spark.sql.SparkSession

/** The library's session entry point: one call wires everything a
  * graft deployment needs — the `SparkSessionExtensions` hook
  * (native `cosine_sim`/`h60` SQL functions, the top-1-per-group
  * optimizer rule, the native as-of join strategy) plus the
  * scale defaults every operator's plan shape assumes (AQE on, UTC
  * session time, explicit shuffle parallelism).
  *
  * Equivalent spark-submit form (README "Deploying"):
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftSession {

  def create(
      master: String,
      appName: String = "graft",
      shufflePartitions: Int = 32): SparkSession =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      // withExtensions applies even when a SparkContext already exists;
      // do NOT also set the spark.sql.extensions conf here — on a fresh
      // context that would apply GraftExtensions twice (rule/strategy
      // consulted twice per query), and on an existing one it's ignored
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // Parquet timestamps without the UTC-adjusted flag read as plain
      // TIMESTAMP, not TIMESTAMP_NTZ — watermarks and unix_micros
      // require it, and [[Tables]] normalizes either way (this default
      // just keeps direct spark.read callers on the same type).
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .getOrCreate()

  /** Local cores for a main: `SPARK_GRAFT_CPUS`, else `default`. */
  private[graft] def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)

  /** The bench config of record — `local[SPARK_GRAFT_CPUS or 32]` with
    * 32 shuffle partitions — shared by `Bench`, `ProfileQuery` and
    * `Explain`, so profiles and plan dumps come from the measured
    * configuration.
    */
  private[graft] def bench(appName: String): SparkSession =
    create(s"local[${cpus(32)}]", appName, 32)
}
