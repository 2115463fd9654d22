package graft

import org.apache.spark.sql.SparkSession

/** The Spark session of graft's command-line entry points
  * (`QueryRunner`, `Bench`, `PlanDump`, `ProbeAB`): `local[cpus]`
  * unless `master` names another, `cpus` shuffle partitions, AQE on,
  * UTC session time, no UI, WARN logging, and:
  *  - `spark.sql.parquet.aggregatePushdown`: count(*) on raw parquet
  *    resolves from footers, not a scan;
  *  - `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`: AQE
  *    may coalesce stages DOWNSTREAM of persisted frames (the dedup
  *    pipelines cache signature/candidate frames); without it every
  *    post-cache shuffle keeps the static partition count even when the
  *    data is tiny;
  *  - `spark.sql.codegen.cache.maxEntries` 1000: a long-lived gateway
  *    serves more plan shapes than Spark's default of 100 compiled
  *    classes holds (one BM25 search alone compiles about 50), and an
  *    evicted shape compiles again on its next request.
  */
object Session {
  def local(cpus: String, master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
