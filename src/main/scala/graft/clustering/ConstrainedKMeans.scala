package graft.clustering

import org.apache.spark.ml.Estimator
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Pairwise semi-supervised constraints.
  * (reference: df/Constraints.scala:27-69 — same ADT; the set lives on the
  * driver and is broadcast, constraints are assumed small relative to data.)
  */
sealed trait Constraint { def a: Long; def b: Long; def weight: Double }
case class MustLink(a: Long, b: Long, weight: Double = 1.0) extends Constraint
case class CannotLink(a: Long, b: Long, weight: Double = 1.0) extends Constraint

case class ConstraintSet(constraints: Seq[Constraint]) {
  def mustLinks: Seq[MustLink] = constraints.collect { case m: MustLink => m }
  def cannotLinks: Seq[CannotLink] = constraints.collect { case c: CannotLink => c }
  def size: Int = constraints.size
  def isEmpty: Boolean = constraints.isEmpty

  /** True unless a cannot-link pair falls inside one must-link
    * TRANSITIVE-CLOSURE component: must(a,b) + must(b,c) + cannot(a,c)
    * is unsatisfiable even though no single pair conflicts directly.
    * Union-find over the must-links on the driver (constraint sets are
    * small by contract — they ride a broadcast in the fit loop).
    * (reference: df/Constraints.scala:27-260 computes the same
    * must-link components for its validity check.)
    */
  def isSatisfiable: Boolean = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    mustLinks.foreach { m =>
      val (ra, rb) = (find(m.a), find(m.b))
      if (ra != rb) parent(ra) = rb
    }
    cannotLinks.forall(c => find(c.a) != find(c.b))
  }

  /** id -> (partnerId, isMust, weight) adjacency, broadcast into the
    * assignment UDF.
    */
  def adjacency: Map[Long, Seq[(Long, Boolean, Double)]] =
    constraints.flatMap {
      case MustLink(a, b, w)   => Seq(a -> (b, true, w), b -> (a, true, w))
      case CannotLink(a, b, w) => Seq(a -> (b, false, w), b -> (a, false, w))
    }.groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2) }
}

object ConstraintSet {
  val empty: ConstraintSet = ConstraintSet(Nil)
  def of(mustLinks: Seq[(Long, Long)], cannotLinks: Seq[(Long, Long)]): ConstraintSet =
    ConstraintSet(mustLinks.map { case (a, b) => MustLink(a, b) } ++
      cannotLinks.map { case (a, b) => CannotLink(a, b) })
}

/** COP-style constrained k-means (soft penalties).
  * (reference: ml/ConstrainedKMeans.scala:119-290. The reference COLLECTS
  * the full dataset to the driver and assigns points sequentially —
  * ml/ConstrainedKMeans.scala:283-286; that is replaced by a distributed
  * formulation: each iteration first resolves the CONSTRAINED points'
  * cluster choices (a filtered assignment over only those ids, collected —
  * O(|constraints|)), then assigns everything in one UDF pass where a
  * constrained row pays weight * constraintWeight for violating a partner's
  * resolved cluster. Constraint info rides a broadcast, never a shuffle.)
  */
class ConstrainedKMeans(override val uid: String)
    extends Estimator[GeneralizedKMeansModel] with GeneralizedKMeansParams
    with org.apache.spark.ml.util.DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("constrainedkmeans"))

  final val idCol = new Param[String](this, "idCol", "long id column for constraint pairs")
  def getIdCol: String = $(idCol)
  def setIdCol(v: String): this.type = set(idCol, v)

  final val constraintWeight = new DoubleParam(this, "constraintWeight",
    "penalty per violated constraint (soft mode)", ParamValidators.gtEq(0))
  def getConstraintWeight: Double = $(constraintWeight)
  def setConstraintWeight(v: Double): this.type = set(constraintWeight, v)

  setDefault(idCol -> "id", constraintWeight -> 1.0)

  private var constraintSet: ConstraintSet = ConstraintSet.empty
  def setConstraints(cs: ConstraintSet): this.type = { constraintSet = cs; this }
  def setConstraints(mustLinks: Seq[(Long, Long)], cannotLinks: Seq[(Long, Long)]): this.type =
    setConstraints(ConstraintSet.of(mustLinks, cannotLinks))
  def getConstraints: ConstraintSet = constraintSet

  def setK(v: Int): this.type = set(k, v)
  def setDivergence(v: String): this.type = set(divergence, v)
  def setSmoothing(v: Double): this.type = set(smoothing, v)
  def setMaxIter(v: Int): this.type = set(maxIter, v)
  def setTol(v: Double): this.type = set(tol, v)
  def setSeed(v: Long): this.type = set(seed, v)
  def setInitMode(v: String): this.type = set(initMode, v)
  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)

  /** Warm start: train from these centers instead of initMode (same
    * contract as GeneralizedKMeans.setInitialCenters; not persisted).
    */
  @transient private var initialCentersOpt: Option[Array[Array[Double]]] = None
  def setInitialCenters(cs: Array[Array[Double]]): this.type = {
    initialCentersOpt = Option(cs); this
  }

  /** Count of violated constraints under the model's centers, using the
    * SAME greedy constrained assignment the training loop uses for
    * constrained points (a plain argmin transform can split a must-linked
    * boundary pair no matter how training went — the constrained
    * assignment is the semantics the violations are defined over).
    * O(|constraints|) rows collected.
    */
  def countViolations(dataset: Dataset[_], model: GeneralizedKMeansModel): Long = {
    if (constraintSet.isEmpty) return 0L
    val adj = constraintSet.adjacency
    val ids = adj.keySet.toSeq.sorted
    val (dfArr, arrCol) = FeatureCols.asArray(dataset.toDF(), $(featuresCol))
    val kern = kernel
    val lambda = $(constraintWeight)
    val feats = dfArr.where(col($(idCol)).isin(ids: _*))
      .select(col($(idCol)).cast("long"), col(arrCol))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val fixed = scala.collection.mutable.Map[Long, Int]()
    ids.foreach { id =>
      feats.get(id).foreach { x =>
        var best = 0
        var bd = Double.MaxValue
        var c = 0
        while (c < model.clusterCenters.length) {
          var cost = kern.divergence(x, model.clusterCenters(c))
          adj(id).foreach { case (pid, isMust, w) =>
            fixed.get(pid).foreach { pc =>
              val violated = if (isMust) pc != c else pc == c
              if (violated) cost += lambda * w
            }
          }
          if (cost < bd) { bd = cost; best = c }
          c += 1
        }
        fixed(id) = best
      }
    }
    constraintSet.constraints.count {
      case MustLink(a, b, _) =>
        fixed.contains(a) && fixed.contains(b) && fixed(a) != fixed(b)
      case CannotLink(a, b, _) =>
        fixed.contains(a) && fixed.contains(b) && fixed(a) == fixed(b)
    }
  }

  override def fit(dataset: Dataset[_]): GeneralizedKMeansModel = {
    val t0 = System.currentTimeMillis()
    require(constraintSet.isSatisfiable,
      "ConstrainedKMeans: the constraint set is unsatisfiable — a " +
        "cannot-link pair falls inside one must-link transitive-closure " +
        "component (e.g. must(a,b)+must(b,c)+cannot(a,c)). Drop one of " +
        "the conflicting constraints or lower it to a soft preference " +
        "by removing it from the set.")
    val df0 = dataset.toDF()
    transformSchema(df0.schema)
    val (dfArr, arrCol) = FeatureCols.asArray(df0, $(featuresCol))
    val kern = kernel
    val lambda = $(constraintWeight)
    val adj = constraintSet.adjacency
    val data = dfArr.select(col($(idCol)).cast("long").as("__id"), col(arrCol))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = data.count()
    val dim = data.select(col(arrCol)).head().getSeq[Double](0).length
    val constrainedIds = adj.keySet.toSeq.sorted
    val sc = data.sparkSession.sparkContext

    // constrained rows' features, collected ONCE — O(|constraints| * d).
    // Their per-iteration assignment is a sequential greedy on the driver
    // (matching the reference's incremental semantics without its full-data
    // collect): simultaneous penalized updates would let a must-linked pair
    // swap sides forever.
    val constrainedFeatures: Map[Long, Array[Double]] =
      if (constrainedIds.isEmpty) Map.empty
      else data.where(col("__id").isin(constrainedIds: _*))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

    var centers = CenterInit.initialize(data,
      LloydsConfig(k = $(k), kernel = kern, seed = $(seed), initMode = $(initMode),
        featuresCol = arrCol, initialCenters = initialCentersOpt), dim, n)
    var iter = 0
    var converged = false
    val distHist = Seq.newBuilder[Double]

    while (iter < $(maxIter) && !converged) {
      // greedy sequential assignment of the constrained points (driver,
      // O(|constraints| * k * d)); earlier points in id order anchor later
      // partners
      val fixed = scala.collection.mutable.Map[Long, Int]()
      constrainedIds.foreach { id =>
        constrainedFeatures.get(id).foreach { x =>
          val partners = adj(id)
          var best = 0
          var bd = Double.MaxValue
          var c = 0
          while (c < centers.length) {
            var cost = kern.divergence(x, centers(c))
            partners.foreach { case (pid, isMust, w) =>
              fixed.get(pid).foreach { pc =>
                val violated = if (isMust) pc != c else pc == c
                if (violated) cost += lambda * w
              }
            }
            if (cost < bd) { bd = cost; best = c }
            c += 1
          }
          fixed(id) = best
        }
      }
      val bcC = sc.broadcast(centers)
      val bcK = sc.broadcast(kern)
      val bcF = sc.broadcast(fixed.toMap)
      val asgUdf = udf { (id: Long, xs: Seq[Double]) =>
        val x = xs.toArray
        val cs = bcC.value
        bcF.value.get(id) match {
          case Some(c) => (c, bcK.value.divergence(x, cs(c)))
          case None =>
            var best = 0
            var bd = Double.MaxValue
            var c = 0
            while (c < cs.length) {
              val d = bcK.value.divergence(x, cs(c))
              if (d < bd) { bd = d; best = c }
              c += 1
            }
            (best, bd)
        }
      }
      val assigned = data.withColumn("__b", asgUdf(col("__id"), col(arrCol)))
        .withColumn("cluster", col("__b._1"))
        .withColumn("dist", col("__b._2"))
        .drop("__b")
      val upd = Update.gradMean(assigned, arrCol, lit(1.0), kern, dim, centers.length)
      distHist += upd.distortion
      val next = centers.indices.flatMap(upd.centers.get).toArray
      val movement =
        if (next.length != centers.length) Double.MaxValue
        else centers.zip(next).map { case (a, b) =>
          math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
        }.max
      if (next.nonEmpty) centers = next
      iter += 1
      if (movement < $(tol)) converged = true
    }
    data.unpersist()

    val model = new GeneralizedKMeansModel(uid, centers, $(divergence), $(smoothing))
    copyValues(model.setParent(this))
    model.trainingSummary = Some(TrainingSummary(
      "ConstrainedKMeans", $(k), centers.length, dim, n, iter, converged,
      distHist.result(), Nil, kern.name, System.currentTimeMillis() - t0))
    model
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)
  override def copy(extra: ParamMap): ConstrainedKMeans = defaultCopy(extra)
}

object ConstrainedKMeans extends org.apache.spark.ml.util.DefaultParamsReadable[ConstrainedKMeans]
