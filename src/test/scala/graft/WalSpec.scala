package graft

import graft.model.GraphWal
import graft.server.Gateway

/** Incremental write durability: the GraphWal segment log + manifest.
  * The gate is the kill-and-reload shape — a sequence of write batches
  * survives recovery with ids, properties, and indexes intact, without
  * any full-table re-save between batches.
  */
class WalSpec extends GraftSuite {

  private def addN(name: String, age: Long): String =
    s"""{"request_type":"write","query":{"queries":[{"Query":{"name":"created",
      "steps":[{"AddN":{"label":"ParityUser","properties":[
      ["name",{"Value":{"String":"$name"}}],
      ["age",{"Value":{"I64":$age}}]]}}],"condition":null}}],
      "returns":["created"]},"parameters":{}}"""

  private def userRows(store: graft.model.GraphStore) =
    store.nodesFor("ParityUser")
      .select("_id", "name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("write batches survive kill-and-reload with ids intact") {
    val dir = java.nio.file.Files.createTempDirectory("gwal").toString
    val base = TestBase.parityGraph()
    // checkpoint = full snapshot + empty manifest
    GraphWal.checkpoint(base, dir)
    val gw = new Gateway(GraphWal.recover(spark, dir), walRoot = Some(dir))
    gw.handle(addN("Dana", 28))
    gw.handle(addN("Eve", 35))
    gw.handle(
      """{"request_type":"write","query":{"queries":[{"Query":{"name":"upd",
        "steps":[{"NWhere":{"Eq":["name",{"String":"Dana"}]}},
        {"SetProperty":["age",{"Value":{"I64":29}}]}],"condition":null}}],
        "returns":["upd"]},"parameters":{}}""")
    val live = userRows(gw.currentStore)
    assert(live.map(_._2) == Set("Alice", "Bob", "Carol", "Dana", "Eve"))

    // "kill": recover purely from disk — snapshot + segment replay
    val recovered = GraphWal.recover(spark, dir)
    assert(userRows(recovered) == live) // ids AND names bit-identical
    val danaAge = recovered.nodesFor("ParityUser")
      .where(org.apache.spark.sql.functions.col("name") === "Dana")
      .select("age").head().getLong(0)
    assert(danaAge == 29)
    // declared indexes survive via the snapshot meta
    assert(recovered.indexes == base.indexes)
  }

  test("id allocation seeds from the durable high-water mark, not a max-scan") {
    import org.apache.spark.sql.functions._
    // 1) the mark round-trips disk: write -> checkpoint -> load
    val dir = java.nio.file.Files.createTempDirectory("gwal-hw").toString
    GraphWal.checkpoint(TestBase.parityGraph(), dir)
    val gw = new Gateway(GraphWal.recover(spark, dir), walRoot = Some(dir))
    gw.handle(addN("Dana", 28)) // first-ever write: max-scan fallback, then stamp
    val liveHw = gw.currentStore.idHighWater
    assert(liveHw.exists(_ >= 102L)) // parity ids top out at 101
    GraphWal.checkpoint(gw.currentStore, dir)
    assert(GraphWal.recover(spark, dir).idHighWater == liveHw)

    // 2) with the mark present the next write NEVER aggregates the
    //    tables: poison every row so any max(_id) scan throws — seeding
    //    from the mark allocates without touching the data
    val poisoned = spark.range(1).select(
      when(col("id") >= 0, raise_error(lit("id seed scanned the table")))
        .cast("long").as("_id"),
      lit("ParityUser").as("_label"), lit("Zed").as("name"))
    val store = new graft.model.GraphStore(spark,
      Map("ParityUser" -> poisoned), Map.empty, Map.empty).withIdHighWater(777L)
    val comp = TestBase.compiler(store, write = true)
    comp.run(graft.dsl.Dsl.g().addN("ParityUser",
      "name" -> graft.ast.PropertyValue.VString("NewGuy")).t)
    assert(comp.store.idHighWater == Some(778L)) // 777 + 1 allocated, re-stamped
  }

  test("recovery ignores segments that never reached the manifest") {
    val dir = java.nio.file.Files.createTempDirectory("gwal2").toString
    GraphWal.checkpoint(TestBase.parityGraph(), dir)
    val gw = new Gateway(GraphWal.recover(spark, dir), walRoot = Some(dir))
    gw.handle(addN("Dana", 28))
    // simulate a crash mid-commit: a segment file exists but the
    // manifest was never flipped — recovery must not apply it
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "wal", "seg-2.json"), "{ garbage")
    val recovered = GraphWal.recover(spark, dir)
    assert(userRows(recovered).map(_._2) == Set("Alice", "Bob", "Carol", "Dana"))
  }

  test("checkpoint folds the log: segments truncate, state persists") {
    val dir = java.nio.file.Files.createTempDirectory("gwal3").toString
    GraphWal.checkpoint(TestBase.parityGraph(), dir)
    val gw = new Gateway(GraphWal.recover(spark, dir), walRoot = Some(dir))
    gw.handle(addN("Dana", 28))
    gw.handle(addN("Eve", 35))
    val before = userRows(GraphWal.recover(spark, dir))
    GraphWal.checkpoint(gw.currentStore, dir)
    // log folded into the snapshot: no segments left to replay
    val segs = new java.io.File(s"$dir/wal").listFiles()
      .filter(_.getName.startsWith("seg-"))
    assert(segs.isEmpty)
    assert(userRows(GraphWal.recover(spark, dir)) == before)
    // and the log keeps accepting post-checkpoint writes
    val gw2 = new Gateway(GraphWal.recover(spark, dir), walRoot = Some(dir))
    gw2.handle(addN("Frank", 41))
    assert(userRows(GraphWal.recover(spark, dir)).map(_._2).contains("Frank"))
  }

  test("segment names never reuse across checkpoint generations (ABA)") {
    val dir = java.nio.file.Files.createTempDirectory("gwal-aba").toString
    GraphWal.checkpoint(TestBase.parityGraph(), dir)
    val gw = new Gateway(GraphWal.recover(spark, dir), walRoot = Some(dir))
    gw.handle(addN("Dana", 28))
    gw.handle(addN("Eve", 35)) // seg-1, seg-2
    GraphWal.checkpoint(gw.currentStore, dir) // truncates the applied list
    gw.handle(addN("Frank", 41))
    // a reader holding the PRE-checkpoint manifest must find its listed
    // segments gone (loud NoSuchFileException -> retry), never a
    // recreated same-named file with post-checkpoint content
    val segs = new java.io.File(s"$dir/wal").listFiles()
      .filter(_.getName.startsWith("seg-")).map(_.getName).toSet
    assert(segs == Set("seg-3.json"), s"got $segs")
    // and recovery replays the commitSeq-named segment fine
    assert(userRows(GraphWal.recover(spark, dir)).map(_._2).contains("Frank"))
  }

  test("attached streaming sink unifies with the WAL: recover sees streamed rows, overlay is idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("gwal-stream").toString
    GraphWal.checkpoint(TestBase.parityGraph(), dir)
    // real Structured Streaming file sink into the store's stream area;
    // one streamed row (_id 1) collides with a batch row — the batch
    // copy must win (anti-join overlay)
    // rows go in before start: an AvailableNow query reads only the
    // data present when it starts
    val mem = MemoryStream[(Long, String)]
    mem.addData((50L, "Stream50"), (51L, "Stream51"), (1L, "NotAlice"))
    val q = graft.streaming.GraphStream.nodeIngest(
      mem.toDF().toDF("uid", "name"), "ParityUser", "uid", s"$dir/stream",
      buckets = 4).trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    GraphWal.attachStream(dir, "nodes", "ParityUser", s"$dir/stream/nodes/ParityUser")

    val rec1 = GraphWal.recover(spark, dir)
    val names1 = userRows(rec1).map(_._2)
    assert(Set("Stream50", "Stream51").subsetOf(names1))
    assert(!names1.contains("NotAlice")) // batch copy of _id 1 wins
    assert(userRows(rec1).count(_._1 == 1L) == 1)
    // streamed props missing from the batch schema arrive as nulls
    assert(rec1.nodesFor("ParityUser")
      .where(org.apache.spark.sql.functions.col("_id") === 50L)
      .select("age").head().isNullAt(0))

    // a batch write + checkpoint BAKES streamed rows into the snapshot;
    // the attachment survives compaction and must not double-count
    val gw = new Gateway(rec1, walRoot = Some(dir))
    gw.handle(addN("Dana", 28))
    GraphWal.checkpoint(gw.currentStore, dir)
    val rec2 = GraphWal.recover(spark, dir)
    assert(userRows(rec2).size == userRows(rec1).size + 1)
    assert(userRows(rec2).count(_._1 == 50L) == 1)

    // the sink keeps appending after the fold (same source, restarted
    // query resumes from the sink checkpoint's committed offsets);
    // recovery picks the new rows up
    mem.addData((52L, "Stream52"))
    val q2 = graft.streaming.GraphStream.nodeIngest(
      mem.toDF().toDF("uid", "name"), "ParityUser", "uid", s"$dir/stream",
      buckets = 4).trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    assert(userRows(GraphWal.recover(spark, dir)).map(_._2).contains("Stream52"))
  }

  test("replica refresh observes sink progress without any manifest change") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("gwal-mark").toString
    GraphWal.checkpoint(TestBase.parityGraph(), dir)
    val mem = MemoryStream[(Long, String)]
    def runOnce(): Unit = {
      val q = graft.streaming.GraphStream.nodeIngest(
        mem.toDF().toDF("uid", "name"), "ParityUser", "uid", s"$dir/stream",
        buckets = 4).trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    mem.addData((60L, "Stream60")); runOnce()
    GraphWal.attachStream(dir, "nodes", "ParityUser", s"$dir/stream/nodes/ParityUser")
    val st0 = GraphWal.openReplica(spark, dir)
    assert(userRows(st0.served).map(_._2).contains("Stream60"))
    // nothing changed anywhere -> reference-equal no-op fast path
    assert(GraphWal.advanceReplica(spark, dir, st0) eq st0)
    // the sink commits MORE rows; the manifest is untouched (no
    // logWrite, no checkpoint) — the progress mark alone must trigger
    // an overlay rebuild at the same position
    mem.addData((61L, "Stream61")); runOnce()
    val st1 = GraphWal.advanceReplica(spark, dir, st0)
    assert(st1 ne st0)
    assert(st1.position == st0.position)
    assert(userRows(st1.served).map(_._2).contains("Stream61"))
    // and the refreshed state no-ops again
    assert(GraphWal.advanceReplica(spark, dir, st1) eq st1)
  }

  test("replay reuses the recorded id seed: writes over a streamed overlay recover bit-identical") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("gwal-seed").toString
    GraphWal.checkpoint(TestBase.parityGraph(), dir)
    // streamed rows mint EXTERNAL ids far above the batch ids (parity
    // tops out at 101): the live store's max-scan sees them, the
    // snapshot+segments base does not — only the recorded seed can
    // make replay agree
    val mem = MemoryStream[(Long, String)]
    mem.addData((500L, "Stream500"), (501L, "Stream501"))
    val q = graft.streaming.GraphStream.nodeIngest(
      mem.toDF().toDF("uid", "name"), "ParityUser", "uid", s"$dir/stream",
      buckets = 4).trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    GraphWal.attachStream(dir, "nodes", "ParityUser", s"$dir/stream/nodes/ParityUser")

    val gw = new Gateway(GraphWal.recover(spark, dir), walRoot = Some(dir))
    gw.handle(addN("Dana", 28)) // max-scan over the overlaid store -> 502
    def danaId(st: graft.model.GraphStore): Long =
      st.nodesFor("ParityUser").where(col("name") === "Dana")
        .select("_id").head().getLong(0)
    val liveId = danaId(gw.currentStore)
    assert(liveId == 502L, s"live id: $liveId")
    // replay runs over the non-overlaid base, where max(_id) is 101 —
    // the segment's recorded seed must force the live outcome anyway
    assert(danaId(GraphWal.recover(spark, dir)) == liveId)
  }

  test("attached streaming edge sink overlays onto the recovered store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("gwal-estream").toString
    GraphWal.checkpoint(TestBase.parityGraph(), dir)
    val mem = MemoryStream[(Long, Long, Long)]
    mem.addData((900L, 2L, 3L))
    val q = graft.streaming.GraphStream.edgeIngest(
      mem.toDF().toDF("eid", "from", "to"), "FOLLOWS", "eid", "from", "to",
      s"$dir/stream", buckets = 4)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    GraphWal.attachStream(dir, "edges", "FOLLOWS", s"$dir/stream/edges/FOLLOWS")
    val rec = GraphWal.recover(spark, dir)
    val ids = rec.edgesFor("FOLLOWS").select("_id").collect().map(_.getLong(0)).toSet
    assert(ids.contains(900L))
    assert(ids.size == rec.edgesFor("FOLLOWS").count()) // no duplicates
  }

  private def write(steps: String): String =
    s"""{"request_type":"write","query":{"queries":[{"Query":{"name":"w",
      "steps":[$steps],"condition":null}}],"returns":["w"]},"parameters":{}}"""

  private def tableRows(df: org.apache.spark.sql.DataFrame) =
    (df.columns.toSeq, df.collect().map(_.toSeq).toSet)

  test("checkpoint folds the write overlays: a reload holds the same rows") {
    val dir = java.nio.file.Files.createTempDirectory("gwal-fold").toString
    GraphWal.checkpoint(TestBase.parityGraph(), dir)
    val gw = new Gateway(GraphWal.recover(spark, dir), walRoot = Some(dir))
    gw.handle(addN("Dana", 28))
    gw.handle(write("""{"N":{"Ids":[2]}},{"SetProperty":["age",{"Value":{"I64":28}}]}"""))
    gw.handle(write("""{"N":{"Ids":[1]}},{"SetProperty":["rank",{"Value":{"F64":0.5}}]}"""))
    gw.handle(write("""{"N":{"Ids":[1]}},{"AddE":{"label":"FOLLOWS","to":{"Ids":[3]},
      "properties":[["weight",{"Value":{"F64":0.25}}]]}}"""))
    gw.handle(write("""{"N":{"Ids":[3]}},"Drop""""))
    val live = gw.currentStore
    GraphWal.checkpoint(live, dir) // snap-2: the first checkpoint wrote snap-1
    val loaded = graft.model.GraphPersistence.load(spark, s"$dir/snap-2")
    assert(loaded.nodeLabels == live.nodeLabels && loaded.edgeLabels == live.edgeLabels)
    live.nodeLabels.foreach(l =>
      assert(tableRows(loaded.nodesFor(l)) == tableRows(live.nodesFor(l)), l))
    live.edgeLabels.foreach(l =>
      assert(tableRows(loaded.edgesFor(l)) == tableRows(live.edgesFor(l)), l))
    assert(loaded.nodesFor("ParityUser").count() == 3L) // Dana in, Carol out
    assert(loaded.edgesFor("FOLLOWS").count() == 1L) // both edges into Carol cascaded
  }

  test("write batches keep the read plan bounded, live and after replica replay") {
    val s = spark
    import s.implicits._
    val customers = (1L to 3L).map(k => (k, "Customer", k, s"c$k", 10.0 * k))
      .toDF("_id", "_label", "c_custkey", "c_name", "c_acctbal")
    val dir = java.nio.file.Files.createTempDirectory("gwal-bounded").toString
    GraphWal.checkpoint(new graft.model.GraphStore(s, Map("Customer" -> customers),
      Map.empty, Map.empty), dir)
    val gw = new Gateway(GraphWal.recover(spark, dir), walRoot = Some(dir))
    def planNodes(st: graft.model.GraphStore): Int =
      st.nodesFor("Customer").queryExecution.logical.collect { case p => p }.size
    // one batch: a SetProperty on an existing customer plus an AddN
    def batch(i: Int): String =
      s"""{"request_type":"write","query":{"queries":[
        {"Query":{"name":"s","steps":[{"NWhere":{"And":[
          {"Eq":["$$label",{"String":"Customer"}]},
          {"Eq":["c_custkey",{"I64":${1 + i % 3}}]}]}},
          {"SetProperty":["c_acctbal",{"Value":{"F64":${100 + i}.5}}]},"Count"],
          "condition":null}},
        {"Query":{"name":"a","steps":[{"AddN":{"label":"Customer","properties":[
          ["c_custkey",{"Value":{"I64":${100 + i}}}],
          ["c_name",{"Value":{"String":"new$i"}}],
          ["c_acctbal",{"Value":{"F64":$i.25}}]]}},{"Values":["c_custkey"]}],
          "condition":null}}],
        "returns":["s","a"]},"parameters":{}}"""
    assert(gw.handle(batch(1)) == """{"a":101,"s":1}""")
    val bound = planNodes(gw.currentStore)
    (2 to 12).foreach { i =>
      assert(gw.handle(batch(i)) == s"""{"a":${100 + i},"s":1}""")
      assert(planNodes(gw.currentStore) == bound, s"plan grew at batch $i")
    }
    val read = """{"request_type":"read","query":{"queries":[{"Query":{"name":"r",
      "steps":[{"NWhere":{"Eq":["$label",{"String":"Customer"}]}},
      {"OrderBy":["c_custkey","Asc"]},{"Values":["c_custkey","c_name","c_acctbal"]}],
      "condition":null}}],"returns":["r"]},"parameters":{}}"""
    // the last write to each of customers 1..3 was batch 12, 10 and 11
    val expected = (Seq((1, "c1", "112.5"), (2, "c2", "110.5"), (3, "c3", "111.5")) ++
      (1 to 12).map(i => (100 + i, s"new$i", s"$i.25")))
      .map { case (k, n, b) => s"""{"c_custkey":$k,"c_name":"$n","c_acctbal":$b}""" }
      .mkString("""{"r":[""", ",", "]}")
    assert(gw.handle(read) == expected)
    val replica = GraphWal.openReplica(spark, dir).served
    assert(planNodes(replica) == bound)
    assert(new Gateway(replica).handle(read) == expected)
  }

  test("id ranges persist across checkpoint and load, widened to the ids written since") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("gwal-ranges").toString
    GraphWal.checkpoint(TestBase.parityGraph(), dir)
    val gw = new Gateway(GraphWal.recover(spark, dir), walRoot = Some(dir))
    gw.handle(addN("Dana", 28)) // first-ever write: the id scan stamps the ranges
    val live = gw.currentStore
    val dana = live.nodesFor("ParityUser").where(col("name") === "Dana")
      .select("_id").head().getLong(0)
    assert(live.idRanges(false -> "ParityUser") == (1L, 3L)) // Dana is an overlay row
    GraphWal.checkpoint(live, dir)
    val loaded = GraphWal.recover(spark, dir)
    assert(loaded.idRanges(false -> "ParityUser") == (1L, dana)) // now a base row
    assert(loaded.idRanges == live.frameIdRanges)
    val next = new Gateway(loaded, walRoot = Some(dir))
    next.handle(write(s"""{"N":{"Ids":[1]}},{"AddE":{"label":"FOLLOWS","to":{"Ids":[$dana]},
      "properties":[]}}"""))
    assert(next.currentStore.edgesFor("FOLLOWS").where(col("_dst") === dana).count() == 1L)
  }
}
