package graft

import org.apache.spark.sql.SparkSession

/** The one way to build the engine's session. Every entry point (Verify,
  * Bench, the fuzz gates, Profile, GenData and the test suite) starts
  * the same engine, so a gate can never test a differently configured
  * engine than the one it vouches for. */
object GraftSession {
  /** Local-mode cores: `SPARK_GRAFT_CPUS` when set, else every core the
    * JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `local[cores]` with one shuffle partition per core. Scratch (spill
    * and warehouse) lives under the per-process [[Tables.scratchRoot]]. */
  def apply(cores: Int = cpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // Engine default: object-hash aggregation (TypedImperativeAggregate
      // sketches) keeps hash mode far past the 128-key default -- sketch
      // buffers are ~136 B, so 64k keys/partition is ~9 MB, while the
      // sort fallback re-sorts the full exploded input (round-1 lesson).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${Tables.scratchRoot}/spark-local")
      .config("spark.sql.warehouse.dir", s"${Tables.scratchRoot}/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
