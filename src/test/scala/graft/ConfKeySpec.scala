package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The `graft.*` Spark conf keys the engine reads. A new knob is an edit
  * here and to the key table in ARCHITECTURE.md.
  */
class ConfKeySpec extends AnyFunSuite {

  private val allowed = Set(
    "graft.scratch.dir",
    "graft.scratch.keep",
    "graft.search.ivfThreshold",
    "graft.search.pqThreshold",
    "graft.search.pqM",
    "graft.search.knnQueryBatchMax",
    "graft.suffix.maxSliceTokens",
    "graft.index.verifyAppendContent")

  // a conf key names a namespace and a knob; the MCP tool name
  // "graft.query" has one segment and is not a key
  private val key = """"(graft\.[A-Za-z0-9_]+\.[A-Za-z0-9_.]+)"""".r

  test("src/main reads exactly the declared graft.* conf keys") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "run from the repository root")
    val read = files.flatMap { f =>
      key.findAllMatchIn(Files.readString(f)).map(m => m.group(1) -> f.toString)
    }
    val unknown = read.filterNot { case (k, _) => allowed(k) }
    assert(unknown.isEmpty, s"undeclared graft.* conf keys: ${unknown.mkString(", ")}")
    assert(read.map(_._1).toSet == allowed)
  }
}
