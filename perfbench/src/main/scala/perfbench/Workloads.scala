package perfbench

import graft.queries._

/** The benchmark's workloads. They are built from the query family objects
  * only: `graft.SparkEntry.registry` also pulls in `ImdbQueries`, whose
  * object initialiser reads the reference JOB query files eagerly and
  * throws where they are absent. */
object Workloads {

  /** @param coldPlans clear the sample store, the learned-order cache and
    *   the disk sample cache before every execution (outside its timing) */
  final case class Workload(name: String, queryIds: Seq[String], coldPlans: Boolean)

  val all: Seq[Workload] = Seq(
    // inner joins of 8 and 17 relations written in a bad order, the
    // runtime order switch at 8 relations, and a WCOJ-routed gate:
    // `graft.plans` does most of the work
    Workload("job_cold", Seq("q80", "q110", "q154", "q169"),
      coldPlans = true),
    // text dedup with eager jobs inside `Q.fn`, BM25, and two stateful
    // streaming gates: the UCT rule never fires here
    Workload("pipeline_stream", Seq("q91", "q208", "q77", "q224"),
      coldPlans = false))

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(
      sys.error(s"unknown workload $name; known: ${all.map(_.name).mkString(", ")}"))

  private lazy val families: Map[String, Q] =
    (JobWide.all ++ Extended.all ++ OperatorGates.all ++ TextOps.all ++
      TextSearch.all ++ Pipeline.all ++ ScaleOps.all ++ StatsOps.all ++
      GovernanceOps.all ++ VectorOps.all)
      .map(q => q.name.takeWhile(_ != '_') -> q).toMap

  def queries(w: Workload): Seq[Q] = w.queryIds.map(families)
}
