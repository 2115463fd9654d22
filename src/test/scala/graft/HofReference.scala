package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.search.VectorOps.{dot, norm, rpSign}

/** Composable higher-order-function formulations of the fused native
  * vector kernels — the parity references SearchSpec pins each kernel
  * against bit for bit (and the form any plain-Spark reader can replay
  * without this library).
  */
object HofReference {
  /** [[graft.search.VectorOps.cosineSim]] (graft.functions.CosineToQuery). */
  def cosineSimHof(vecCol: Column, query: Seq[Double]): Column = {
    val q = array(query.map(lit): _*)
    val qn = math.sqrt(query.map(x => x * x).sum)
    dot(vecCol, q) / (norm(vecCol) * lit(qn))
  }

  /** [[graft.search.VectorOps.cosineSimCols]] (graft.functions.CosinePair):
    * the semantics contract the fused expression and the DuckDB
    * oracle's `list_cosine_similarity` both match.
    */
  def cosineSimColsHof(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** [[graft.search.VectorOps.intDotCol]] (graft.functions.IntDotProduct). */
  def intDotColHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** [[graft.search.VectorOps.signSignature63]]
    * (graft.functions.SrpSignature): 63 interpreted array-folds per
    * row, ~10× the kernel's cost.
    */
  def signSignature63Hof(df: DataFrame, vecCol: String,
      out: String, inDim: Int, scale: Long = 1000000L): DataFrame = {
    val staged = df.withColumn("_srp_q",
      transform(col(vecCol), x => round(x.cast("double") * scale).cast("long")))
    val bits = (0 until 63).map { j =>
      val signs = array((0 until inDim).map(i => lit(rpSign(i, j))): _*)
      val comp = aggregate(zip_with(col("_srp_q"), signs, (x, s) => x * s),
        lit(0L), (a, x) => a + x)
      when(comp > 0, lit(1L << j)).otherwise(lit(0L))
    }
    staged.withColumn(out, bits.reduce((a, b) => a.bitwiseOR(b)))
      .drop("_srp_q")
  }
}
