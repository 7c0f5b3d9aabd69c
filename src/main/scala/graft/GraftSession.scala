package graft

import org.apache.spark.sql.SparkSession

/** ONE place for the engine's session configuration (r16, ADVICE item: the
  * bench, verify, and the profilers previously each re-declared the conf set,
  * and most profilers missed `spark.sql.artifact.isolation.enabled=false` —
  * so their fresh-session timings paid per-session Janino recompiles the
  * bench no longer pays, skewing every profile vs the bench by the compile
  * share). Every runner builds through here so a measured configuration is
  * the shipped configuration.
  */
object GraftSession {

  /** The shared conf set, applied to a builder. Rationale for each flag lives
    * here, once:
    *  - artifact.isolation=false: Spark 4 keys the generated-code cache by
    *    the session's artifact classloader; with per-session isolation on
    *    (the default), every fresh child session re-Janino-compiles every
    *    operator (~0.3-0.5 s per q33-sized query, CodeGenerator.compileTime,
    *    r15 q33 profile, OPTIMIZATION_r15.md). This engine registers no
    *    session-scoped artifacts, so isolation buys nothing — all sessions
    *    share compiled classes. NOTE:
    *    static conf — if a future feature registers session UDF artifacts,
    *    revisit (classes would silently share across sessions).
    *  - objectHashAggregate fallback threshold: bounded top-k aggregates run
    *    over high-cardinality groups (per-vector posting assignment); the
    *    128-key default would silently degrade ObjectHashAggregate to
    *    sort-based over the full crossjoin.
    *  - constraintPropagation=false: checkpointed frames carry origin
    *    constraints minted from their pre-checkpoint lineage; propagation
    *    over them can push a stale-attribute filter across later joins and
    *    die in task binding (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND) — results
    *    are unaffected by the rule, so keep it off.
    *  - timeZone/nanosAsLong: the testdata contract.
    */
  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder = {
    val base = b.master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
    // scale-dependent AQE knob, parameterised per the driver contract
    // (VERDICT r15 item 5): parallelismFirst=true (the Spark default) keeps
    // post-shuffle partitions at the parallelism floor; false lets AQE
    // coalesce to advisory size — fewer, larger tasks. Local default is the
    // Spark default so the driver's bench stays comparable; the env knob
    // exists for the A/B protocol and for deployments that decide otherwise
    // (adjudication table in OPTIMIZATION_r16.md / BASELINE.md).
    sys.env.get("SPARK_GRAFT_PARALLELISM_FIRST").fold(base)(v =>
      base.config("spark.sql.adaptive.coalescePartitions.parallelismFirst", v))
  }

  /** Standard session for a runner: `$SPARK_GRAFT_CPUS` cores (default as
    * given), shared conf set, WARN logs.
    */
  def build(defaultCpus: String = "32"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = configure(SparkSession.builder(), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
