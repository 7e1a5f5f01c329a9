package graft
import org.apache.spark.sql.SparkSession

/** The one way this repo builds a Spark session: the mains (Bench,
  * Verify, PlanDump, Console) and the test suites all call
  * [[session]], so a plan pinned in a spec is planned under the
  * config the bench times. */
object Sessions {
  /** Entries in Spark's cache of compiled whole-stage-codegen classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100). At 100 the
    * cache thrashes, so warm queries pay Janino compiles again: one
    * warm pass of PageRank (10 rounds), betweenness and ppjoin on the
    * seeded sf0.01 tables (`local[3]`, 4-core host) compiled 196
    * classes at 100 entries and 0 at 2,000, and the three queries'
    * summed time per warm pass fell from 8.9-10.3 s to 5.6-6.6 s. In
    * local mode about half of the compiles run on executor task
    * threads and half on the driver, so each stage takes two entries. */
  val CodegenCacheEntries = 2000

  /** `local[cpus]` session with `cpus` shuffle partitions. Returns the
    * active session when one exists (Spark applies static confs and
    * extensions only at first build, so the parser extension is
    * registered once per session however often this is called). */
  def session(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // iterative operators truncate lineage via localCheckpoint; the
    // checkpoint blocks are reclaimed by the ContextCleaner only
    // after the RDD object is GC'd, and the default periodic-GC
    // interval (30 min) lets blocks from hundreds of query runs
    // accumulate in storage memory, squeezing later queries. One
    // minute is the standard setting for checkpoint-heavy loads.
    .config("spark.cleaner.periodicGC.interval", "1min")
    // collect_set/collect_list aggregate in ObjectHashAggregate,
    // which falls back to SORT-based aggregation at 128 distinct
    // keys per partition (the default) — the dedup shingle-set
    // aggregations sit just past that cliff and pay a full sort of
    // the exploded corpus. Measured: minhash 1.62 -> 1.36 s.
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      100000)
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
    // long-running-driver hygiene (the standard cluster settings):
    // AppStatusListener retains 1000 jobs/stages + 100k tasks by
    // default even with the UI off — a suite of hundreds of queries
    // generates thousands of stages, and the growing status store
    // taxes the listener bus for every later query
    .config("spark.ui.retainedJobs", 100)
    .config("spark.ui.retainedStages", 100)
    .config("spark.ui.retainedTasks", 1000)
    .config("spark.sql.ui.retainedExecutions", 8)
    // dialect text through spark.sql once a GraftSession is bound; a
    // pass-through parser otherwise
    .config("spark.sql.extensions", "graft.engine.GraftSqlExtension")
    .getOrCreate()

  /** [[session]] sized by `SPARK_GRAFT_CPUS` (default 4), for mains. */
  def fromEnv(): SparkSession =
    session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
}
