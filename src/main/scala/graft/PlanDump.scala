package graft

import java.nio.file.{Files, Paths}

/** Writes `.explain("formatted")` for named queries to files — the
  * plan-audit artifact (`plans/rNN/<query>_{before,after}.txt`). Plans
  * only; no action runs, so artifact-cache warm-ups (BM25 postings,
  * media table) that some queries build lazily DO run at plan time if
  * the query's plan depends on them.
  *
  * Args: <sfDir> <outDir> <suffix> [names...] — names default to every
  * declared query. Each plan lands at <outDir>/<name>_<suffix>.txt.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, suffix) = (args(0), args(1), args(2))
    val names =
      if (args.length > 3) args.drop(3).toSeq else SparkEntry.queries.keys.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Session.local(cpus)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            // queryExecution.explainString = what .explain("formatted") prints
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
            println(s"[plandump] wrote ${name}_$suffix.txt")
          } catch {
            case e: Throwable =>
              System.err.println(s"[plandump] $name failed: " +
                e.toString.linesIterator.next().take(300))
          }
        case None => System.err.println(s"[plandump] unknown query: $name")
      }
    }
    spark.stop()
  }
}
