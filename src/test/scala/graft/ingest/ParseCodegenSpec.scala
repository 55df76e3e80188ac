package graft.ingest

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, RLike, StringSplit}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.SparkTestBase
import graft.lake.LakeLayout

/** The bronze parse compiles once for every file layout: two files whose
  * headers differ only in column order must generate byte-identical
  * whole-stage code (the body is the codegen cache key), and the plan must
  * split each line once and run the 11-pattern timestamp chain once. A
  * per-file literal inlined into generated code (a header position, a
  * folded `current_timestamp()`) recompiles the stage for every input. */
class ParseCodegenSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val record = Map(
    "transaction_id" -> "T1", "store_id" -> "S1",
    "timestamp" -> "2024-03-01 10:00:00", "item_id" -> "I1",
    "item_category" -> "Grocery", "quantity" -> "2", "unit_price" -> "$3.00",
    "revenue" -> "6.00", "payment_method" -> "Card", "customer_id" -> "c1")

  private def parseFrame(header: Seq[String]): DataFrame = {
    val dir = Files.createTempDirectory("graft_parse_codegen_").toString
    val f = s"$dir/sales.csv"
    val lines = header.mkString(",") +: (1 to 3).map(i =>
      header.map(c => if (c == "transaction_id") s"T$i" else record(c)).mkString(","))
    Files.writeString(Paths.get(f), lines.mkString("\n") + "\n")
    org.apache.commons.io.FileUtils.forceDeleteOnExit(new java.io.File(dir))
    val conf = BronzeToSilver.Conf(LakeLayout(dir), "run00001", "sales.csv")
    BronzeToSilver.parse(BronzeToSilver.scrubbedLines(spark.read.text(f)), ',',
      header.mkString(","), Headers.indexMap(header), conf)
  }

  /** The frame's whole-stage codegen stages after it ran (AQE plans them
    * stage by stage), in stage order. */
  private def stages(df: DataFrame): Seq[WholeStageCodegenExec] = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case w: WholeStageCodegenExec => w }
      .sortBy(_.codegenStageId)
  }

  private def count(plan: LogicalPlan)(pf: PartialFunction[Any, Unit]): Int =
    plan.collect { case p => p.expressions.flatMap(_.collect { case e if pf.isDefinedAt(e) => e }) }
      .flatten.size

  test("two header orders share one generated parse, split once, timestamp chain once") {
    val a = parseFrame(Headers.canonical)
    val b = parseFrame(Headers.canonical.reverse)
    def records(df: DataFrame) = df.drop("raw_row").collect().map(_.toString).sorted.toSeq
    assert(records(a) == records(b), "same records whatever the column order")

    val (sa, sb) = (stages(a), stages(b))
    assert(sa.nonEmpty && sa.size == sb.size)
    sa.zip(sb).foreach { case (x, y) =>
      assert(x.doCodeGen()._2.body == y.doCodeGen()._2.body,
        s"stage ${x.codegenStageId} generates different code per header order")
    }
    // no generated method over HotSpot's 8000-byte huge-method limit
    // (compile is a cache hit here: the stages already ran)
    sa.foreach { w =>
      val size = CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize
      assert(size <= 8000, s"stage ${w.codegenStageId}: a $size-byte method")
    }

    Seq(a, b).foreach { df =>
      val plan = df.queryExecution.optimizedPlan
      assert(count(plan) { case _: StringSplit => } == 1)
      assert(count(plan) { case _: RLike => } == 11)
      assert(count(plan) {
        case l: LambdaFunction if l.exists(_.isInstanceOf[StringSplit]) =>
      } == 0, "the split must not run once per header position")
    }
  }
}
