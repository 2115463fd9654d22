package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.ast._
import graft.dsl.Dsl._
import graft.pipeline.Scratch
import graft.server.Gateway

/** The lifetime of spilled frames under `graft.scratch.dir`: a frame's
  * directory lives exactly as long as some plan can read it.
  */
class ScratchSpec extends GraftSuite {

  private def withScratch(f: File => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-scratch").toFile
    spark.conf.set("graft.scratch.dir", dir.toString)
    try f(dir) finally spark.conf.unset("graft.scratch.dir")
  }

  private def frames(dir: File): Seq[String] =
    Option(dir.listFiles()).toSeq.flatten.map(_.getName)

  /** Runs `System.gc()` until `dir` holds no frame, for at most 60 s. */
  private def drained(dir: File): Boolean = {
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (frames(dir).nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
    }
    frames(dir).isEmpty
  }

  private def evens(n: Long) = (0L until n by 2).map(_ * 10).sum

  // Each helper builds and drops its frames in its own stack frame, so
  // no local slot of the test body keeps them reachable.

  private def stableThenDrop(n: Long): Long = {
    val base = Scratch.stable(spark.range(n).toDF("id"))
    base.where(col("id") % 2 === 0).select((col("id") * 10).as("x"))
      .collect().map(_.getLong(0)).sum
  }

  private def failingPass(dir: File): Unit = {
    val store = new Scratch.FrameStore(spark)
    val first = store.keep(spark.range(10).toDF("id"))
    store.keep(first.select((col("id") + 1).as("id"))).count()
    throw new IllegalStateException(s"failed holding ${frames(dir).size} frames")
  }

  test("a frame derived from a stable frame still reads after the original handle is dropped") {
    withScratch { dir =>
      var base = Scratch.stable(spark.range(100).toDF("id"))
      val derived = base.where(col("id") % 2 === 0).select((col("id") * 10).as("x"))
      base = null
      for (_ <- 1 to 5) { System.gc(); Thread.sleep(100) }
      assert(derived.collect().map(_.getLong(0)).sum == evens(100))
      assert(frames(dir).size == 1, s"the derived frame's files must survive: ${frames(dir)}")
    }
  }

  test("a stable frame's directory goes once nothing derived from it is reachable") {
    withScratch { dir =>
      assert(stableThenDrop(100) == evens(100))
      assert(drained(dir), s"left after GC: ${frames(dir)}")
    }
  }

  test("a FrameStore pass that throws before release leaves no frame after GC") {
    withScratch { dir =>
      val e = intercept[IllegalStateException](failingPass(dir))
      assert(e.getMessage == "failed holding 2 frames")
      assert(drained(dir), s"left after GC: ${frames(dir)}")
    }
  }

  test("release deletes a pass's spilled frames at once") {
    withScratch { dir =>
      val store = new Scratch.FrameStore(spark)
      val kept = Seq(store.keep(spark.range(10).toDF("id")), store.keep(spark.range(20).toDF("id")))
      assert(frames(dir).size == 2)
      store.release()
      // the frames are still reachable: release, not the Cleaner, deleted them
      assert(frames(dir).isEmpty && kept.size == 2, s"left after release: ${frames(dir)}")
    }
  }

  test("a Gateway serving Repeat traversals leaves the scratch root empty after GC") {
    withScratch { dir =>
      val gw = new Gateway(TestBase.parityGraph())
      val batch = Batch(Seq(BatchEntry.Query(NamedQuery(Some("r"),
        g().n(1L).repeat(sub().both("FOLLOWS"), 10).count().t))), Seq("r"))
      val request = Json.writeRequest(Json.Request(false, None, batch, Map.empty))
      var spilled = 0
      val bodies = (1 to 20).map { _ =>
        val body = gw.handle(request)
        spilled = math.max(spilled, frames(dir).size)
        body
      }
      // walks of length 10 from Alice over 1-2-3 in both directions
      assert(bodies.distinct == Seq("""{"r":32}"""), bodies.distinct)
      assert(spilled > 0, "Repeat spilled no stable frame")
      assert(drained(dir), s"left after GC: ${frames(dir)}")
    }
  }
}
