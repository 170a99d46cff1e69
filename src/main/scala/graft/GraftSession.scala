package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is built. Every main (Bench,
  * Verify/DumpOne, PipelineMain, ProfileOne, ProfileStacks, Explain) and
  * the test session go through it, so the engine's confs and deployment
  * knobs are read here only:
  *
  *  - the native functions ([[graft.functions.GraftExtensions]]), UTC
  *    session time, `parquet.nanosAsLong` (the testdata's
  *    TIMESTAMP(NANOS) `events.ts`, see [[Tables]]) and no UI;
  *  - `SPARK_GRAFT_CPUS` (default 4): the local master's cores and the
  *    shuffle partition count, unless the caller passes its own;
  *  - `SPARK_GRAFT_BYPASS_THRESHOLD` (default 0): the shuffle writer
  *    choice. With partitions at or under Spark's default threshold of
  *    200, every SQL exchange falls into BypassMergeSortShuffleWriter —
  *    numPartitions temp files + a merge + an index per map task, which
  *    ProfileStacks measured as ~60% of executor thread-time on the
  *    exchange-heavy fold rows. A real cluster runs thousands of shuffle
  *    partitions, always above the threshold, i.e. on
  *    UnsafeShuffleWriter's one-sorted-file path; 0 runs that writer here
  *    too (OPTIMIZATION_r18.md). 200 restores the Spark default; the
  *    full-suite A/B that settles the default is an open ROADMAP item;
  *  - `SPARK_GRAFT_MATERIALIZE_MODE` / `SPARK_GRAFT_MATERIALIZE_DIR`: run
  *    under another [[Materialize]] strategy (e.g. `reliable` + a
  *    checkpoint dir) without touching operator code.
  *
  * A second call in one JVM returns the running session (`getOrCreate`):
  * runtime confs are re-applied, static ones such as the master keep
  * their first values.
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def apply(
      master: String = s"local[$cpus]",
      shufflePartitions: String = cpus,
      logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BYPASS_THRESHOLD", "0"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    sys.env.get("SPARK_GRAFT_MATERIALIZE_MODE")
      .foreach(spark.conf.set(Materialize.ModeKey, _))
    sys.env.get("SPARK_GRAFT_MATERIALIZE_DIR")
      .foreach(spark.conf.set(Materialize.DirKey, _))
    spark
  }
}
