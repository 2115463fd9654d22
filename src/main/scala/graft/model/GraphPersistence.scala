package graft.model

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.JsonNodeFactory

import scala.jdk.CollectionConverters._

/** Parquet-backed persistence for a GraphStore: one directory per
  * label (`root/nodes/<label>/`, `root/edges/<label>/`) plus a meta
  * JSON with edge endpoint labels and declared indexes.
  *
  * Scale layout choices:
  *  - per-label directories = label filter is directory pruning;
  *  - edges repartitioned by `_src` on write so adjacency joins read
  *    co-located postings (a bucket-join starter; real deployments add
  *    a `_dst`-ordered mirror for In() traversals, same as any
  *    adjacency-list store keeps two directions).
  */
object GraphPersistence {
  private val mapper = new ObjectMapper()
  private val F = JsonNodeFactory.instance

  /** Catalog table name for a bucketed label directory — root-scoped
    * so two stores on one session never collide. Labels are free-form
    * (dots, dashes, unicode) but catalog identifiers are not: the
    * label is squashed to `[A-Za-z0-9_]` with its own hash suffix so
    * "a.b" and "a_b" stay distinct and the name is always a bare
    * identifier (a dotted name would parse as a multipart identifier
    * in `saveAsTable` and target a nonexistent database).
    */
  private def bucketTable(root: String, kind: String, label: String): String = {
    val safe = label.replaceAll("[^A-Za-z0-9_]", "_")
    s"graft_${kind}_${safe}_${java.lang.Integer.toHexString(label.hashCode)}" +
      s"_${java.lang.Integer.toHexString(root.hashCode)}"
  }

  /** `bucketBy = Some(n)` writes every table through the catalog as a
    * bucketed+sorted layout ([[BucketedTables]]): nodes clustered by
    * `_id`, edges by `_src`, ONE bucket count store-wide — so the
    * adjacency join `nodes._id = edges._src` is co-located on disk
    * and plans with no exchange on either side (the plain layout's
    * `repartition(_src)` loses its placement the moment the files are
    * re-read). The bucket count is recorded in `graph_meta.json`;
    * [[load]] re-registers the external tables with the same layout,
    * so the co-location survives a fresh session. At 100 TB this is
    * the difference between shuffling the edge corpus per traversal
    * and streaming co-located bucket pairs.
    */
  def save(store: GraphStore, root: String, edgeShufflePartitions: Int = 0,
      bucketBy: Option[Int] = None): Unit = {
    store.nodeTables.foreach { case (label, df) =>
      bucketBy match {
        case Some(n) => BucketedTables.writeBucketed(df,
          bucketTable(root, "nodes", label), s"$root/nodes/$label", "_id", n)
        case None =>
          // a prior bucketed save of this root may have registered a
          // catalog entry advertising CLUSTERED BY over these files;
          // overwriting them as plain parquet must drop it, or a
          // later spark.table() plans a bucketed scan over files with
          // no bucket ids
          df.sparkSession.sql(
            s"DROP TABLE IF EXISTS `${bucketTable(root, "nodes", label)}`")
          df.write.mode(SaveMode.Overwrite).parquet(s"$root/nodes/$label")
      }
    }
    store.edgeTables.foreach { case (label, df) =>
      bucketBy match {
        case Some(n) => BucketedTables.writeBucketed(df,
          bucketTable(root, "edges", label), s"$root/edges/$label", "_src", n)
        case None =>
          df.sparkSession.sql(
            s"DROP TABLE IF EXISTS `${bucketTable(root, "edges", label)}`")
          val out = if (edgeShufflePartitions > 0)
            df.repartition(edgeShufflePartitions, col("_src")) else df
          out.write.mode(SaveMode.Overwrite).parquet(s"$root/edges/$label")
      }
    }
    val meta = F.objectNode()
    bucketBy.foreach(meta.put("bucketed", _))
    val em = F.objectNode()
    store.edgeMeta.foreach { case (l, m) =>
      val o = F.objectNode()
      val srcs = F.arrayNode(); m.srcLabels.toSeq.sorted.foreach(srcs.add)
      val dsts = F.arrayNode(); m.dstLabels.toSeq.sorted.foreach(dsts.add)
      o.set[com.fasterxml.jackson.databind.JsonNode]("src", srcs)
      o.set[com.fasterxml.jackson.databind.JsonNode]("dst", dsts)
      em.set[com.fasterxml.jackson.databind.JsonNode](l, o)
    }
    meta.set[com.fasterxml.jackson.databind.JsonNode]("edgeMeta", em)
    val ix = F.arrayNode()
    store.indexes.foreach(spec => ix.add(graft.ast.Json.writeIndexSpec(spec)))
    meta.set[com.fasterxml.jackson.databind.JsonNode]("indexes", ix)
    // durable id allocation mark: a reloaded store seeds its id counter
    // from here instead of a full-table max(_id) scan
    store.idHighWater.foreach(meta.put("idHighWater", _))
    // per-label id bounds of the saved tables: a reloaded store's
    // id-targeted sources keep reading only the labels that can hold the ids
    val ranges = meta.putObject("idRanges")
    val (nodeRanges, edgeRanges) = (ranges.putObject("nodes"), ranges.putObject("edges"))
    store.frameIdRanges.toSeq.sortBy(_._1).foreach { case ((isEdges, l), (lo, hi)) =>
      (if (isEdges) edgeRanges else nodeRanges).putArray(l).add(lo).add(hi)
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/graph_meta.json"), mapper.writeValueAsString(meta))
  }

  def load(spark: SparkSession, root: String): GraphStore = {
    def labelsIn(dir: String): Seq[String] = {
      val d = new java.io.File(dir)
      if (!d.isDirectory) Nil
      else d.listFiles().filter(_.isDirectory).map(_.getName).toSeq.sorted
    }
    val metaPath = java.nio.file.Paths.get(s"$root/graph_meta.json")
    val metaTree: Option[com.fasterxml.jackson.databind.JsonNode] =
      if (java.nio.file.Files.exists(metaPath))
        Some(mapper.readTree(java.nio.file.Files.readString(metaPath)))
      else None
    val bucketed: Option[Int] = metaTree
      .flatMap(t => Option(t.get("bucketed"))).filterNot(_.isNull).map(_.asInt)
    def readTable(kind: String, key: String)(l: String) = bucketed match {
      case Some(n) =>
        val path = s"$root/$kind/$l"
        // schema from the files themselves; the register DDL must
        // match the written layout exactly
        val ddl = spark.read.parquet(path).schema.toDDL
        BucketedTables.register(spark, bucketTable(root, kind, l), path,
          key, n, ddl)
        BucketedTables.table(spark, bucketTable(root, kind, l))
      case None => spark.read.parquet(s"$root/$kind/$l")
    }
    val nodes = labelsIn(s"$root/nodes")
      .map(l => l -> readTable("nodes", "_id")(l)).toMap
    val edges = labelsIn(s"$root/edges")
      .map(l => l -> readTable("edges", "_src")(l)).toMap
    val ranges = metaTree.flatMap(t => Option(t.get("idRanges"))).toSeq.flatMap { r =>
      Seq("nodes" -> false, "edges" -> true).flatMap { case (kind, isEdges) =>
        Option(r.get(kind)).toSeq.flatMap(_.properties.asScala.map { e =>
          (isEdges -> e.getKey) -> (e.getValue.get(0).asLong, e.getValue.get(1).asLong)
        })
      }
    }.toMap
    val (edgeMeta, indexes, hw) = metaTree match {
      case Some(tree) =>
        val em = Option(tree.get("edgeMeta")).map { emn =>
          emn.properties.asScala.map { e =>
            e.getKey -> EdgeMeta(
              e.getValue.get("src").elements.asScala.map(_.asText).toSet,
              e.getValue.get("dst").elements.asScala.map(_.asText).toSet)
          }.toMap
        }.getOrElse(Map.empty[String, EdgeMeta])
        val ix = Option(tree.get("indexes")).map(
          _.elements.asScala.map(graft.ast.Json.readIndexSpec).toSet)
          .getOrElse(Set.empty[graft.ast.IndexSpec])
        val w = Option(tree.get("idHighWater")).filterNot(_.isNull).map(_.asLong)
        (em, ix, w)
      case None => (Map.empty[String, EdgeMeta], Set.empty[graft.ast.IndexSpec],
        Option.empty[Long])
    }
    new GraphStore(spark, nodes, edges, edgeMeta, indexes,
      idHighWater = hw, idRanges = ranges)
  }
}
