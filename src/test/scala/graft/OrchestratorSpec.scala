package graft

import java.nio.file.Files
import scala.concurrent.ExecutionContext.Implicits.global
import org.apache.spark.sql.functions._
import graft.etl.{Orchestrator, PipelineSpec, Sinks}

class OrchestratorSpec extends SparkSpec {

  test("parallel stage runs concurrent Spark jobs; stages barrier") {
    val tmp = Files.createTempDirectory("graft_orch").toString
    val cust = Tables.load(spark, sf, "customer")
    val sup = Tables.load(spark, sf, "supplier")

    val results = Orchestrator.runStages(Seq(
      // stage 1: two independent writes in parallel (import.sh:93-100)
      Seq(
        () => Sinks.overwriteParquet(cust.select("c_custkey", "c_name"),
          s"$tmp/a"),
        () => Sinks.overwriteParquet(sup.select("s_suppkey", "s_name"),
          s"$tmp/b")),
      // stage 2: depends on stage 1 outputs (import.sh:85-91 sequencing)
      Seq(() => spark.read.parquet(s"$tmp/a").count() +
        spark.read.parquet(s"$tmp/b").count())))

    assert(results(0).sorted === Seq(10L, 150L))
    assert(results(1) === Seq(160L))
  }

  test("a failed job fails its stage only after its siblings finish") {
    val siblingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val laterStage = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Orchestrator.runStages(Seq(
        Seq(
          () => throw new IllegalStateException("first job fails"),
          () => { Thread.sleep(300); siblingDone.set(true) }),
        Seq(() => laterStage.set(true))))
    }
    assert(e.getMessage === "first job fails")
    assert(siblingDone.get, "the stage ended before its sibling job did")
    assert(!laterStage.get, "a later stage ran after a failed one")
  }

  test("flows targeting the same destination stay ordered") {
    val spec = PipelineSpec.parse(
      """{"tables":[
        |  {"flow":"a -> x"}, {"flow":"b -> y"},
        |  {"flow":"c -> x"}, {"flow":"d -> z"}]}""".stripMargin)
    val stages = Orchestrator.stagesByDestination(spec)
    // a->x and b->y are independent; c->x must wait for a->x
    assert(stages.length === 2)
    assert(stages(0).map(_.to) === Seq("x", "y"))
    assert(stages(1).map(_.to) === Seq("x", "z"))
  }

  test("a flow writing a table an earlier flow of the stage reads waits") {
    val stages = Orchestrator.stagesByDestination(PipelineSpec.parse(
      """{"tables":[{"flow":"x -> y"}, {"flow":"z -> x"}]}"""))
    assert(stages.map(_.map(f => s"${f.from}->${f.to}")) ===
      Seq(Seq("x->y"), Seq("z->x")))
  }

  test("flows reading the same source share a stage") {
    val stages = Orchestrator.stagesByDestination(PipelineSpec.parse(
      """{"tables":[{"flow":"a -> b"}, {"flow":"a -> c"}]}"""))
    assert(stages.map(_.map(_.to)) === Seq(Seq("b", "c")))
  }
}
