package graft.search

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ast.IndexSpec
import graft.model.GraphStore

/** Durable index artifacts: the batch-built equivalents of the
  * reference's always-on HNSW/BM25 index files (config.rs:166-209),
  * persisted as parquet tables next to the graph
  * (`root/_index/text/<label>/<prop>/…`, `root/_index/ivf/<label>/<prop>`;
  * an edge index's under `edge_text`, `edge_ivf`, `edge_pq`).
  *
  * At 100 TB these are produced by the WRITE path (a nightly or
  * incremental index build job), and query serving only ever reads
  * them — `load` pre-populates the serving cache so the first query
  * after a restart pays zero build cost.
  */
object IndexArtifacts {

  /** Where a declared index's artifact of `kind` (text, ivf, pq) lives;
    * a node and an edge label of one name never share a directory.
    */
  private def dir(root: String, kind: String, spec: IndexSpec.Artifact): String =
    s"$root/_index/${if (spec.isEdges) "edge_" else ""}$kind/${spec.label}/${spec.property}"

  def save(store: GraphStore, root: String): Unit =
    store.indexes.foreach {
      case spec: IndexSpec.Artifact =>
        (if (spec.isEdges) store.edgeTables else store.nodeTables).get(spec.label)
          .foreach { table =>
            val (p, t) = (spec.property, spec.tenantProperty)
            if (spec.isText) saveText(table, p, dir(root, "text", spec), t)
            else {
              val tenants = t.map(tp => tp -> bigTenants(table, tp))
              saveIvf(table, p, dir(root, "ivf", spec), tenants)
              savePq(table, p, dir(root, "pq", spec), tenants)
            }
          }
      case _ => ()
    }

  private def saveText(table: DataFrame, prop: String, path: String,
      tenantCol: Option[String]): Unit = {
    val (post, stats) = BM25.buildIndex(table, prop, tenantCol)
    // postings bucketed by term hash: a query's term lookup prunes to
    // its buckets (partitionBy("_term") would explode the namespace)
    post.withColumn("_tb", pmod(hash(col("_term")), lit(64)))
      .repartition(col("_tb"))
      .write.mode(SaveMode.Overwrite).partitionBy("_tb")
      .parquet(s"$path/postings")
    stats.write.mode(SaveMode.Overwrite).parquet(s"$path/stats")
  }

  /** The tenants of a tenant-partitioned vector index (tenant_property
    * declared) whose corpus clears the IVF serving threshold, with their
    * row counts — smaller tenants serve exact brute scans anyway, so an
    * artifact for them would never be read. The IVF and PQ driver loops
    * are bounded by their number (each holds >= threshold rows, so at
    * most corpus/threshold of them).
    */
  private def bigTenants(table: DataFrame, tp: String): Seq[(Any, Long)] = {
    val threshold =
      table.sparkSession.conf.get("graft.search.ivfThreshold", "100000").toLong
    table.groupBy(col(tp)).count().where(col("count") >= threshold).collect()
      .toSeq.map(r => (r.get(0), r.getLong(1)))
  }

  /** One centroid set, or for a tenant-partitioned index one PER
    * above-threshold tenant (`tenants`: the tenant column and
    * [[bigTenants]]).
    */
  private def saveIvf(table: DataFrame, prop: String, path: String,
      tenants: Option[(String, Seq[(Any, Long)])]): Unit = {
    val spark = table.sparkSession
    import spark.implicits._
    tenants match {
      case None =>
        val model = VectorOps.trainIvf(table, prop, VectorOps.ivfNlist(table.count()))
        model.centroids.zipWithIndex
          .map { case (c, i) => (i, c.toSeq) }.toSeq
          .toDF("centroid_id", "centroid")
          .write.mode(SaveMode.Overwrite).parquet(path)
      case Some((tp, big)) =>
        val rows = big.flatMap { case (tv, n) =>
          val model = VectorOps.trainIvf(table.where(col(tp) === tv), prop,
            VectorOps.ivfNlist(n))
          model.centroids.zipWithIndex.map { case (c, i) =>
            (String.valueOf(tv), i, c.toSeq)
          }
        }
        rows.toDF("_tenant", "centroid_id", "centroid")
          .write.mode(SaveMode.Overwrite).parquet(path)
    }
  }

  /** PQ codebooks for the IVF-PQ serving tier. Only the CODEBOOKS
    * persist — at 100 TB the code column itself is part of the stored
    * table (written at ingest); rebuilding it from durable codebooks
    * is one scan, never a re-train. Rows: (subspace, centroid_id,
    * centroid), plus `_tenant` for tenant-partitioned indexes (one
    * codebook set per above-threshold tenant, like saveIvf).
    * Vector dims indivisible by `graft.search.pqM` save nothing — the
    * serving path falls back to plain IVF for them anyway.
    */
  private def savePq(table: DataFrame, prop: String, path: String,
      tenants: Option[(String, Seq[(Any, Long)])]): Unit = {
    val spark = table.sparkSession
    import spark.implicits._
    val m = spark.conf.get("graft.search.pqM", "8").toInt
    val dimRow = table.select(size(col(prop))).head()
    if (dimRow.isNullAt(0) || dimRow.getInt(0) % m != 0) return
    tenants match {
      case None =>
        val model = VectorOps.trainPq(table, prop, m)
        model.codebooks.toSeq.zipWithIndex.flatMap { case (cb, s) =>
          cb.toSeq.zipWithIndex.map { case (c, i) => (s, i, c.toSeq) }
        }.toDF("subspace", "centroid_id", "centroid")
          .write.mode(SaveMode.Overwrite).parquet(path)
      case Some((tp, big)) =>
        if (big.isEmpty) return
        val rows = big.flatMap { case (tv, _) =>
          val model = VectorOps.trainPq(table.where(col(tp) === tv), prop, m)
          model.codebooks.toSeq.zipWithIndex.flatMap { case (cb, s) =>
            cb.toSeq.zipWithIndex.map { case (c, i) =>
              (String.valueOf(tv), s, i, c.toSeq)
            }
          }
        }
        rows.toDF("_tenant", "subspace", "centroid_id", "centroid")
          .write.mode(SaveMode.Overwrite).parquet(path)
    }
  }

  /** Load persisted artifacts for `store` (matching its DECLARED
    * indexes) into the serving cache under the store's version. Returns
    * the number of artifacts loaded; missing artifacts are skipped
    * (they build lazily on first query as usual).
    */
  def load(spark: SparkSession, root: String, store: GraphStore): Int = {
    def exists(p: String) = new java.io.File(p).isDirectory
    store.indexes.toSeq.map {
      case spec: IndexSpec.Artifact =>
        val key = IndexCache.Key(store.version, spec)
        val (text, ivf, pq) = (dir(root, "text", spec), dir(root, "ivf", spec), dir(root, "pq", spec))
        if (spec.isText) {
          if (!exists(s"$text/postings")) 0
          else {
            IndexCache.putText(key, spark.read.parquet(s"$text/postings").drop("_tb"),
              spark.read.parquet(s"$text/stats"))
            1
          }
        } else if (!exists(ivf)) 0
        else loadVector(spark, ivf, key)(readIvf)(IndexCache.putIvf) +
          (if (!exists(pq)) 0 else loadVector(spark, pq, key)(readPq)(IndexCache.putPq))
      case _ => 0
    }.sum
  }

  /** Put one model per durable artifact: the index's own, or one per
    * tenant of a tenant-partitioned index (rows carry `_tenant`; the
    * collect is bounded by (above-threshold tenants) × model size).
    * Returns the number of models put.
    */
  private def loadVector[M](spark: SparkSession, path: String, key: IndexCache.Key)(
      read: Seq[Row] => M)(put: (IndexCache.Key, M) => Unit): Int = {
    val rows = spark.read.parquet(path).collect().toSeq
    key.spec.tenantProperty match {
      case None =>
        put(key, read(rows))
        1
      case Some(_) =>
        val byTenant = rows.groupBy(_.getAs[String]("_tenant"))
        byTenant.foreach { case (tv, rs) => put(key.copy(tenant = Some(tv)), read(rs)) }
        byTenant.size
    }
  }

  private def centroids(rows: Seq[Row]): Array[Array[Double]] =
    rows.sortBy(_.getAs[Int]("centroid_id"))
      .map(_.getAs[scala.collection.Seq[Double]]("centroid").toArray).toArray

  private def readIvf(rows: Seq[Row]): VectorOps.IvfModel =
    VectorOps.IvfModel(centroids(rows))

  private def readPq(rows: Seq[Row]): VectorOps.PqModel = {
    val books = rows.groupBy(_.getAs[Int]("subspace")).toSeq.sortBy(_._1)
      .map { case (_, rs) => centroids(rs) }.toArray
    VectorOps.PqModel(books(0)(0).length, books)
  }
}
