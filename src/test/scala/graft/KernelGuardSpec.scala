package graft

import org.apache.spark.sql.functions.{array, col, lit}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{ArgmaxCell, ArgminCode}
import graft.SparkTestBase.withConfs

/** The compiled IVF/PQ kernels fail loudly on inputs that have no
  * answer, instead of emitting a made-up or NULL result. */
class KernelGuardSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq

  test("ArgmaxCell rejects an empty centroid list when the expression is built") {
    val e = intercept[IllegalArgumentException](
      ArgmaxCell.argmax_cell(col("v"), col("nrm"), Seq.empty))
    assert(e.getMessage.contains("at least one centroid"))
  }

  test("ArgminCode throws, naming the subspace, when the codebook does not cover it (codegen and interpreted)") {
    val codebook = Seq((0, 0L, Seq(0.0, 0.0)), (0, 1L, Seq(1.0, 1.0)))
    val rows = spark.range(2).select(col("id").cast("int").as("sub"),
      array(lit(0.9), lit(1.2)).as("sv"))
    val code = ArgminCode.argmin_code(col("sub"), col("sv"), codebook)
    for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false"))
      withConfs("spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> wholeStage) {
        // a covered subspace still gets its nearest codeword
        assert(rows.filter(col("sub") === 0).select(code).head().getLong(0) === 1L, mode)
        val e = intercept[Exception](rows.select(code).collect())
        assert(messages(e).exists(_.contains("no entry for subspace 1")), s"$mode: ${messages(e)}")
      }
  }
}
