package graft.etl

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Failure

/** Orchestration parity with the reference's shell layer (reference:
  * sdk/shell/import.sh): migrations with dependencies run sequentially
  * (`migrate_employeur` before `migrate_assures` — import.sh:85-91),
  * independent migrations run as parallel background processes
  * (`migrate_enfants` ∥ `migrate_conjoint` — import.sh:93-100;
  * import_users.sh:62-66).
  *
  * Here: a stage is a set of independent jobs launched on the driver as
  * futures — Spark actions are thread-safe and the DAG scheduler interleaves
  * their tasks across the executor pool (FAIR/FIFO per config). Stages
  * barrier like the shell's `wait`. The reference's scatter of 500-key
  * chunks to worker processes (sdk/process.php:129-147) needs no analogue:
  * partitioning IS the scatter.
  */
object Orchestrator {

  /** Run stages in order; jobs within a stage concurrently. Returns each
    * job's result in submission order. A stage is a plain barrier, like the
    * shell's `wait`: every job of it finishes before the stage ends. A
    * failed job fails its stage (like `set -e` around the shell's
    * foreground steps): the first failure in submission order is thrown,
    * later ones ride along as suppressed, and later stages do not start.
    */
  def runStages[T](stages: Seq[Seq[() => T]])
                  (implicit ec: ExecutionContext): Seq[Seq[T]] =
    stages.map { stage =>
      val outcomes = stage.map(job => Future(job()))
        .map(f => Await.ready(f, Duration.Inf).value.get)
      outcomes.collect { case Failure(e) => e } match {
        case first +: rest =>
          rest.foreach(e => if (e ne first) first.addSuppressed(e))
          throw first
        case _ => outcomes.map(_.get)
      }
    }

  /** Convenience: run one config's flows as a single parallel stage per
    * contiguous group of independent flows. A flow starts a new stage when
    * the stage already reads or writes its destination, or writes its
    * source: flows sharing a table run in config order, as the reference's
    * shell sequence does, while two readers of one table stay concurrent.
    */
  def stagesByDestination(spec: PipelineSpec): Seq[Seq[FlowSpec]] = {
    val reads = scala.collection.mutable.Set[String]()
    val writes = scala.collection.mutable.Set[String]()
    val stages = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer[FlowSpec]())
    spec.flows.foreach { f =>
      if (reads(f.to) || writes(f.to) || writes(f.from)) {
        stages += scala.collection.mutable.ArrayBuffer(f)
        reads.clear()
        writes.clear()
      } else stages.last += f
      reads += f.from
      writes += f.to
    }
    stages.map(_.toSeq).toSeq
  }
}
