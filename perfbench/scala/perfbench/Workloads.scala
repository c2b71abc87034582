package perfbench

/** The workloads and their sizes (full, and the tiny self-test size). */
object Workloads {

  /** A Lloyd fit: n points of dimension d, k explicit seeded initial
    * centers, exactly `iters` iterations (tol = 0). Each measuring process
    * warms up with one fit on an eighth of the rows and `warmFits` full
    * fits; an untraced one then times at least `timedFits` fits. `store` sizes the
    * `SemDedupIndex` probe of the traced run, when it has one.
    */
  final case class Lloyd(n: Int, d: Int, k: Int, iters: Int, divergence: String,
      warmFits: Int, timedFits: Int, store: Option[Dedup] = None)

  /** Semantic-dedup store: `corpus` docs build the store; each round
    * ingests `batch` new docs and probes `batch` docs.
    */
  final case class Dedup(corpus: Int, d: Int, batch: Int, ingestBatches: Int,
      epsilon: Double)

  def lloyd(w: String, tiny: Boolean): Lloyd = (w, tiny) match {
    case ("lloyd_assign_heavy", false) => Lloyd(60000, 32, 128, 5, "squaredEuclidean", 2, 5)
    case ("lloyd_assign_heavy", true) => Lloyd(2000, 32, 8, 3, "squaredEuclidean", 1, 5)
    // d > 128 keeps the update on the Tier-2 CentroidAggregator path; k = 4
    // keeps the k-way KL assignment below the update's share. Two processes
    // share each run (see run.py), so each warms up with one full fit and
    // times two
    case ("lloyd_update_heavy", false) =>
      Lloyd(8000, 256, 4, 4, "kl", 1, 2, Some(Dedup(2000, 64, 500, 4, 0.9)))
    case ("lloyd_update_heavy", true) =>
      Lloyd(400, 160, 4, 2, "kl", 1, 2, Some(Dedup(300, 64, 50, 3, 0.9)))
    case _ => throw new IllegalArgumentException(s"unknown workload $w")
  }
}
