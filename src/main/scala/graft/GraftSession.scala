package graft

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession settings for the engine. Centralized so Verify,
  * Bench, and tests run with identical semantics.
  *
  * Scale rationale:
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  *    — the knobs that keep a fixed shuffle.partitions setting viable from
  *    sf0.01 locally up to a real cluster.
  *  - nanosAsLong: the driver's events table stores TIMESTAMP(NANOS), which
  *    Spark cannot read natively; see [[Tables.events]] for the conversion.
  *  - UTC session TZ: reference timestamps are ISO-8601 UTC
  *    (ref shopify_etl.py:197).
  *  - Codegen cache of 1,000 classes, about 4x the largest working set.
  *    Spark's default LRU holds 100, but a `sync_hourly` round generates
  *    about 150 classes and a `stream_backlog` trigger about 175 (about
  *    250 for a whole stream drain, warm-up query included), in the same
  *    order every round, so the default evicted each class before the
  *    next round needed it: a steady sync round recompiled 152-156
  *    classes and took 3.70-4.40 s on 4 local cores. With the larger
  *    cache it compiles none, as the checkpoint bound stays out of
  *    generated code ([[graft.sources.PagedNdjsonSource.atOrAfter]]).
  *    The conf is static, so it only takes effect in a builder.
  *  - Status store capped at [[RetainedStatus]] SQL executions, jobs,
  *    stages and tasks per stage. Spark keeps 1,000 executions, jobs and
  *    stages and 100,000 tasks even with the UI off (a sync round runs
  *    about 30 executions), and nothing here reads them: metrics come
  *    from listener events. Live heap after a history load and 3 sync
  *    rounds read 88.1 MB with Spark's defaults, 89.7 MB with the larger
  *    codegen cache alone and 87.8 MB with both.
  *  - `fs.file.impl` is [[graft.fs.GraftLocalFileSystem]]: without native
  *    Hadoop, Hadoop's local filesystem forks `chmod` for every file and
  *    directory it creates (153 forks in 2 timed `sync_hourly` rounds);
  *    this subclass sets the same permissions in process, so the rounds
  *    fork no `chmod`. Checksums and the `LocalFileSystem` type stay.
  *  - `fs.AbstractFileSystem.file.impl` is [[graft.fs.GraftLocalFs]], the
  *    same change for `FileContext`, through which a stream's offset and
  *    commit logs write; it also answers `rename`'s link checks in
  *    process instead of forking `readlink`.
  */
object GraftSession {
  /** Local cores (and shuffle partitions) of a CLI main's session:
    * `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The session every CLI main runs on: `local[cpus]` through
    * [[builder]], with Spark's own logging at `logLevel`. */
  def local(logLevel: String): SparkSession = {
    val spark = builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** SQL executions, jobs, stages and tasks per stage the status store
    * keeps. */
  val RetainedStatus = 50

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.ui.retainedExecutions", RetainedStatus.toString)
      .config("spark.ui.retainedJobs", RetainedStatus.toString)
      .config("spark.ui.retainedStages", RetainedStatus.toString)
      .config("spark.ui.retainedTasks", RetainedStatus.toString)
      .config("spark.hadoop.fs.file.impl", classOf[graft.fs.GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.fs.GraftLocalFs].getName)
      // InferFiltersFromGenerate is EXCLUDED (r17, guide §4.4's
      // duplicated-expensive-expression trap in optimizer-rule form):
      // above every explode() the rule synthesizes `size(e) > 0 AND
      // isnotnull(e)` with e = the full generator expression, and
      // predicate pushdown then carries that filter below the
      // repartition into the scan stage — so a shingle/token pipeline
      // evaluates its whole tokenize+hash expression three times, two
      // of them inside the SINGLE-task parquet-scan stage (measured on
      // q101 at sf0.1: two 3.1 s one-task stages whose only work is the
      // inferred filter; plan evidence in plans/r17/). The rule's only
      // benefit is pruning empty arrays BEFORE the exchange, which the
      // explode does anyway one operator later; excluding it is
      // semantically a no-op at any scale and strictly cheaper whenever
      // the generator expression is non-trivial — at 100 TB the triple
      // evaluation would be paid per-terabyte, not per-core.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
}
