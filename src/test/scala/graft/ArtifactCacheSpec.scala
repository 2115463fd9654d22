package graft

import org.apache.spark.storage.StorageLevel

import graft.pipeline.ArtifactCache

class ArtifactCacheSpec extends GraftSuite {

  private def counters(c: ArtifactCache[_, _]): (Long, Long, Long) = {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(c.countersJson)
    (tree.get("hits").asLong, tree.get("misses").asLong,
      tree.get("evictions").asLong)
  }

  test("evicts the least-recently-USED frame past its cap and unpersists it") {
    val cache = ArtifactCache.frames[Int]("spec-lru", 2)
    def frame(i: Int) = cache.getOrBuild(i) {
      spark.range(i + 1).toDF().persist(StorageLevel.MEMORY_AND_DISK)
    }._1
    val f0 = frame(0)
    val f1 = frame(1)
    assert(frame(0) eq f0) // the hit moves 0 ahead of 1
    val f2 = frame(2)
    assert(f1.storageLevel == StorageLevel.NONE, "LRU entry not released")
    assert(f0.storageLevel != StorageLevel.NONE && f2.storageLevel != StorageLevel.NONE)
    assert(cache.contains(0) && !cache.contains(1) && cache.contains(2))
    assert(counters(cache) == ((1L, 3L, 1L)))
    cache.clear()
    assert(f0.storageLevel == StorageLevel.NONE && !cache.contains(2))
  }

  test("hits plus misses equal the calls; a computed value is built once per key") {
    val cache = new ArtifactCache[String, java.lang.Long]("spec-compute", 4)
    var builds = 0
    val keys = Seq("a", "b", "a", "c", "a", "b", "d", "e", "a")
    val got = keys.map(k => cache.getOrCompute(k) { builds += 1; k.head.toLong })
    assert(got == keys.map(_.head.toLong))
    val (hits, misses, evictions) = counters(cache)
    assert(hits + misses == keys.size)
    // a b c d fill the cap; e evicts c, the least recently used (an
    // insertion-order cache would evict a), so the final a hits
    assert(misses == builds && builds == 5 && evictions == 1)
    assert(!cache.contains("c") && cache.contains("a"))
    assert(ArtifactCache.countersJson.contains(
      s""""spec-compute":{"hits":$hits,"misses":$misses,"evictions":1}"""))
  }
}
