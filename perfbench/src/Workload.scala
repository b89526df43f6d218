package perfbench

import org.apache.spark.sql.SparkSession

/** The outcome of one timed op: rows it produced and whether its output
  * matched the expectation.
  */
final case class Check(rowsOut: Long, ok: Boolean, why: String = "")

/** One timed call into graft. `call` makes the graft call (building the
  * plan and running any eager jobs the operator starts itself) and
  * returns the action that consumes and checks its output. `inputRows`
  * is the op's input size, summed into `rows_per_s`. `layer` names the
  * layer the call enters, for the trace.
  */
final case class Op(cls: String, inputRows: Long, call: () => (() => Check),
    layer: String = "operators")

/** A benchmark workload. The harness calls [[setup]] several times on
  * fresh instances (one per set-up sample), then runs rounds: each
  * round is a fixed sequence of ops, and the timed loop only stops
  * between rounds, so every run times whole rounds and the op mix does
  * not depend on where the clock ran out.
  */
trait Workload {
  /** Every op class this workload can time, in reporting order. */
  def classes: Seq[String]
  /** Generate inputs from the seed, load them, build indexes and models. */
  def setup(): Unit
  /** Untimed, once after the set-up samples: expected outputs that
    * depend on what set-up built (a trained model).
    */
  def expect(): Unit = ()
  def round(): Seq[Op]
  /** Rounds that together cover the workload's whole input mix; the
    * timed loop only stops after a whole number of cycles.
    */
  def roundsPerCycle: Int = 1
  /** Untimed rounds before the timed loop (JIT, codegen): enough that the
    * first timed cycle does not run cold code.
    */
  def warmupRounds: Int = 1
  /** Traced rounds only, outside the op's timing: probes of the layers
    * below the op (recorded as spans on `t`) and bookkeeping after it.
    */
  def beforeTraced(op: Op, t: Tracer): Unit = ()
  def afterTraced(op: Op, latencyMs: Double): Unit = ()
  /** Sessions besides the main one that ops run in; the traced run
    * registers its query listener on each.
    */
  def extraSessions: Seq[SparkSession] = Nil
  /** Untimed quality measure after the loop: the share of expected
    * results the workload's approximate step returned.
    */
  def recall(): Double
  /** Workload-specific per-layer metrics gathered in traced rounds. */
  def layerMetrics(): Map[String, Double] = Map.empty
  def close(): Unit
}

object Workload {
  val names: Seq[String] = Seq("nonequi_join", "curation_batch", "index_serve_mixed")

  def make(name: String, spark: SparkSession, seed: Long, dir: java.nio.file.Path): Workload =
    name match {
      case "nonequi_join" => new NonEquiJoin(spark, seed)
      case "curation_batch" => new CurationBatch(spark, seed)
      case "index_serve_mixed" => new IndexServeMixed(spark, seed, dir)
      case other => throw new IllegalArgumentException(
        s"unknown workload `$other`; expected one of ${names.mkString(", ")}")
    }

  /** Harness-only work before the set-up samples: the expected outputs
    * that do not depend on anything the program builds.
    */
  def prepare(name: String, seed: Long): Unit = name match {
    case "nonequi_join" => NonEquiJoin.expectations(seed)
    case "curation_batch" => CurationBatch.expectations(seed)
    case _ => ()
  }

  /** Every op class of every workload: the traced run reports the
    * operator metrics of all of them, zero where a workload bypasses one.
    */
  val allClasses: Seq[String] =
    NonEquiJoin.Classes ++ CurationBatch.Classes ++ IndexServeMixed.Classes
}
