"""PySpark wrappers for graft's clustering estimators.

Thin ``JavaEstimator``/``JavaModel`` shims over the Scala classes — all
compute stays on the JVM as Catalyst dataflow; Python only carries params
and results. Param names match the Scala side one-for-one, so code written
against the Scala API ports directly.

Reference surface: the upstream project ships an equivalent package
(reference python/massivedatascience/clusterer/kmeans.py); this package
covers the same user workflow (fit / transform / predict / computeCost /
summary / save / load) over graft's estimators.
"""

from typing import Any, List, Optional

from pyspark import keyword_only
from pyspark.ml.linalg import Vector
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.param.shared import (
    HasFeaturesCol,
    HasMaxIter,
    HasPredictionCol,
    HasSeed,
    HasTol,
    HasWeightCol,
)
from pyspark.ml.util import JavaMLReadable, JavaMLWritable
from pyspark.ml.wrapper import JavaEstimator, JavaModel
from pyspark.sql import DataFrame

__all__ = [
    "GeneralizedKMeans",
    "GeneralizedKMeansModel",
    "TrainingSummary",
    "XMeans",
    "BisectingKMeans",
    "MiniBatchKMeans",
    "minibatch_step",
    "SoftKMeans",
    "SoftKMeansModel",
    "KMedoids",
    "KMedoidsModel",
    "CLARA",
]


class _GeneralizedKMeansParams(
    HasFeaturesCol, HasPredictionCol, HasMaxIter, HasSeed, HasTol, HasWeightCol
):
    """Params shared by the estimator and the model (name-compatible with
    the Scala ``GeneralizedKMeansParams`` trait)."""

    k = Param(
        Params._dummy(),
        "k",
        "number of clusters (> 1)",
        typeConverter=TypeConverters.toInt,
    )
    divergence = Param(
        Params._dummy(),
        "divergence",
        "divergence name: squaredEuclidean|kl|itakuraSaito|generalizedI|"
        "logistic|l1|spherical",
        typeConverter=TypeConverters.toString,
    )
    smoothing = Param(
        Params._dummy(),
        "smoothing",
        "epsilon smoothing for log-domain divergences",
        typeConverter=TypeConverters.toFloat,
    )
    initMode = Param(
        Params._dummy(),
        "initMode",
        "k-means|| or random",
        typeConverter=TypeConverters.toString,
    )
    initSteps = Param(
        Params._dummy(),
        "initSteps",
        "k-means|| rounds",
        typeConverter=TypeConverters.toInt,
    )
    assignmentStrategy = Param(
        Params._dummy(),
        "assignmentStrategy",
        "auto|broadcast|chunked|expression|crossjoin|elkan|hamerly",
        typeConverter=TypeConverters.toString,
    )
    emptyClusterStrategy = Param(
        Params._dummy(),
        "emptyClusterStrategy",
        "reseedRandom|drop",
        typeConverter=TypeConverters.toString,
    )
    checkpointInterval = Param(
        Params._dummy(),
        "checkpointInterval",
        "iterations between lineage checkpoints",
        typeConverter=TypeConverters.toInt,
    )
    distanceCol = Param(
        Params._dummy(),
        "distanceCol",
        "optional output column with divergence to assigned center",
        typeConverter=TypeConverters.toString,
    )

    def getK(self) -> int:
        return self.getOrDefault(self.k)

    def getDivergence(self) -> str:
        return self.getOrDefault(self.divergence)

    def getSmoothing(self) -> float:
        return self.getOrDefault(self.smoothing)

    def getInitMode(self) -> str:
        return self.getOrDefault(self.initMode)

    def getInitSteps(self) -> int:
        return self.getOrDefault(self.initSteps)

    def getAssignmentStrategy(self) -> str:
        return self.getOrDefault(self.assignmentStrategy)

    def getEmptyClusterStrategy(self) -> str:
        return self.getOrDefault(self.emptyClusterStrategy)

    def getDistanceCol(self) -> str:
        return self.getOrDefault(self.distanceCol)


class GeneralizedKMeans(
    JavaEstimator, _GeneralizedKMeansParams, JavaMLReadable, JavaMLWritable
):
    """K-means generalized to Bregman divergences.

    Example
    -------
    >>> from pyspark.ml.linalg import Vectors
    >>> df = spark.createDataFrame(
    ...     [(Vectors.dense([0.0, 0.0]),), (Vectors.dense([10.0, 10.0]),)],
    ...     ["features"])
    >>> km = GeneralizedKMeans(k=2, divergence="squaredEuclidean")
    >>> model = km.fit(df)
    >>> model.transform(df).select("prediction").distinct().count()
    2
    """

    @keyword_only
    def __init__(
        self,
        *,
        featuresCol: str = "features",
        predictionCol: str = "prediction",
        k: int = 2,
        divergence: str = "squaredEuclidean",
        smoothing: float = 1e-10,
        maxIter: int = 20,
        tol: float = 1e-4,
        seed: Optional[int] = None,
        initMode: str = "k-means||",
        initSteps: int = 2,
        assignmentStrategy: str = "auto",
        emptyClusterStrategy: str = "reseedRandom",
        checkpointInterval: int = 10,
        distanceCol: str = "",
        weightCol: Optional[str] = None,
    ):
        super(GeneralizedKMeans, self).__init__()
        self._java_obj = self._new_java_obj(
            "graft.clustering.GeneralizedKMeans", self.uid
        )
        self._setDefault(
            k=2,
            divergence="squaredEuclidean",
            smoothing=1e-10,
            maxIter=20,
            tol=1e-4,
            initMode="k-means||",
            initSteps=2,
            assignmentStrategy="auto",
            emptyClusterStrategy="reseedRandom",
            checkpointInterval=10,
            distanceCol="",
        )
        kwargs = self._input_kwargs
        self.setParams(**{k_: v for k_, v in kwargs.items() if v is not None})

    @keyword_only
    def setParams(self, **kwargs: Any) -> "GeneralizedKMeans":
        """Set params, keyword-only; unset params keep their defaults."""
        return self._set(**self._input_kwargs)

    def setK(self, value: int) -> "GeneralizedKMeans":
        return self._set(k=value)

    def setDivergence(self, value: str) -> "GeneralizedKMeans":
        return self._set(divergence=value)

    def setSmoothing(self, value: float) -> "GeneralizedKMeans":
        return self._set(smoothing=value)

    def setMaxIter(self, value: int) -> "GeneralizedKMeans":
        return self._set(maxIter=value)

    def setTol(self, value: float) -> "GeneralizedKMeans":
        return self._set(tol=value)

    def setSeed(self, value: int) -> "GeneralizedKMeans":
        return self._set(seed=value)

    def setInitMode(self, value: str) -> "GeneralizedKMeans":
        return self._set(initMode=value)

    def setInitSteps(self, value: int) -> "GeneralizedKMeans":
        return self._set(initSteps=value)

    def setAssignmentStrategy(self, value: str) -> "GeneralizedKMeans":
        return self._set(assignmentStrategy=value)

    def setEmptyClusterStrategy(self, value: str) -> "GeneralizedKMeans":
        return self._set(emptyClusterStrategy=value)

    def setFeaturesCol(self, value: str) -> "GeneralizedKMeans":
        return self._set(featuresCol=value)

    def setPredictionCol(self, value: str) -> "GeneralizedKMeans":
        return self._set(predictionCol=value)

    def setWeightCol(self, value: str) -> "GeneralizedKMeans":
        return self._set(weightCol=value)

    def setDistanceCol(self, value: str) -> "GeneralizedKMeans":
        return self._set(distanceCol=value)

    def _create_model(self, java_model: Any) -> "GeneralizedKMeansModel":
        return GeneralizedKMeansModel(java_model)


class GeneralizedKMeansModel(
    JavaModel, _GeneralizedKMeansParams, JavaMLReadable, JavaMLWritable
):
    """Model fitted by :class:`GeneralizedKMeans`.

    ``transform`` appends the prediction column (and ``distanceCol`` when
    set) as a distributed Catalyst plan; ``predict`` scores one vector on
    the driver; ``computeCost`` is the dataset WCSS under the model's
    divergence.
    """

    def clusterCenters(self) -> List[List[float]]:
        """Cluster centers as a list of k vectors (row-major)."""
        # read the double[][] through py4j directly: pyspark's _java2py
        # pickle bridge handles Vector but not nested primitive arrays
        return [[float(x) for x in jc] for jc in self._java_obj.clusterCenters()]

    @property
    def numClusters(self) -> int:
        return self._call_java("numClusters")

    @property
    def numFeatures(self) -> int:
        return self._call_java("numFeatures")

    def predict(self, value: Vector) -> int:
        """Cluster id for a single feature vector."""
        return self._call_java("predict", value)

    def computeCost(self, dataset: DataFrame) -> float:
        """Sum over rows of the divergence to the nearest center."""
        return self._call_java("computeCost", dataset)

    def hasSummary(self) -> bool:
        return self._call_java("hasSummary")

    @property
    def summary(self) -> "TrainingSummary":
        """Training telemetry (raises if the model was loaded, not fit)."""
        return TrainingSummary(self._call_java("summary"))


class XMeans(JavaEstimator, _GeneralizedKMeansParams, JavaMLReadable, JavaMLWritable):
    """Model-selecting k-means: fits k in [minK, maxK], scores each with
    BIC or AIC, returns the winning :class:`GeneralizedKMeansModel`."""

    minK = Param(
        Params._dummy(), "minK", "minimum k to try (> 1)",
        typeConverter=TypeConverters.toInt,
    )
    maxK = Param(
        Params._dummy(), "maxK", "maximum k to try (> 1)",
        typeConverter=TypeConverters.toInt,
    )
    criterion = Param(
        Params._dummy(), "criterion", "bic|aic",
        typeConverter=TypeConverters.toString,
    )

    @keyword_only
    def __init__(
        self,
        *,
        featuresCol: str = "features",
        predictionCol: str = "prediction",
        minK: int = 2,
        maxK: int = 8,
        criterion: str = "bic",
        divergence: str = "squaredEuclidean",
        smoothing: float = 1e-10,
        maxIter: int = 20,
        tol: float = 1e-4,
        seed: Optional[int] = None,
        weightCol: Optional[str] = None,
    ):
        super(XMeans, self).__init__()
        self._java_obj = self._new_java_obj("graft.clustering.XMeans", self.uid)
        self._setDefault(
            minK=2, maxK=8, criterion="bic", divergence="squaredEuclidean",
            smoothing=1e-10, maxIter=20, tol=1e-4,
        )
        kwargs = self._input_kwargs
        self.setParams(**{k_: v for k_, v in kwargs.items() if v is not None})

    @keyword_only
    def setParams(self, **kwargs: Any) -> "XMeans":
        return self._set(**self._input_kwargs)

    def setMinK(self, value: int) -> "XMeans":
        return self._set(minK=value)

    def setMaxK(self, value: int) -> "XMeans":
        return self._set(maxK=value)

    def setCriterion(self, value: str) -> "XMeans":
        return self._set(criterion=value)

    def getMinK(self) -> int:
        return self.getOrDefault(self.minK)

    def getMaxK(self) -> int:
        return self.getOrDefault(self.maxK)

    def getCriterion(self) -> str:
        return self.getOrDefault(self.criterion)

    def _create_model(self, java_model: Any) -> "GeneralizedKMeansModel":
        return GeneralizedKMeansModel(java_model)


class BisectingKMeans(
    JavaEstimator, _GeneralizedKMeansParams, JavaMLReadable, JavaMLWritable
):
    """Divisive hierarchical k-means: recursively bisects the largest
    divisible cluster until k leaves remain. Returns a
    :class:`GeneralizedKMeansModel`."""

    minDivisibleClusterSize = Param(
        Params._dummy(), "minDivisibleClusterSize",
        ">= 1: absolute minimum points; < 1: minimum fraction of all points",
        typeConverter=TypeConverters.toFloat,
    )

    @keyword_only
    def __init__(
        self,
        *,
        featuresCol: str = "features",
        predictionCol: str = "prediction",
        k: int = 4,
        divergence: str = "squaredEuclidean",
        smoothing: float = 1e-10,
        maxIter: int = 20,
        tol: float = 1e-4,
        seed: Optional[int] = None,
        minDivisibleClusterSize: float = 1.0,
        weightCol: Optional[str] = None,
    ):
        super(BisectingKMeans, self).__init__()
        self._java_obj = self._new_java_obj(
            "graft.clustering.BisectingKMeans", self.uid
        )
        self._setDefault(
            k=4, divergence="squaredEuclidean", smoothing=1e-10,
            maxIter=20, tol=1e-4, minDivisibleClusterSize=1.0,
        )
        kwargs = self._input_kwargs
        self.setParams(**{k_: v for k_, v in kwargs.items() if v is not None})

    @keyword_only
    def setParams(self, **kwargs: Any) -> "BisectingKMeans":
        return self._set(**self._input_kwargs)

    def setK(self, value: int) -> "BisectingKMeans":
        return self._set(k=value)

    def setMinDivisibleClusterSize(self, value: float) -> "BisectingKMeans":
        return self._set(minDivisibleClusterSize=value)

    def getMinDivisibleClusterSize(self) -> float:
        return self.getOrDefault(self.minDivisibleClusterSize)

    def _create_model(self, java_model: Any) -> "GeneralizedKMeansModel":
        return GeneralizedKMeansModel(java_model)


class MiniBatchKMeans(
    JavaEstimator, _GeneralizedKMeansParams, JavaMLReadable, JavaMLWritable
):
    """Sculley-style mini-batch k-means: each iteration assigns one
    Bernoulli-sampled batch (which stays on executors) and merges it
    into the centers with the closed-form running mean. ``batchSize`` /
    ``maxNoImprovement`` / ``reassignmentRatio`` match the reference's
    param surface; centers whose cumulative weight falls below
    ``reassignmentRatio x max(counts)`` after a batch are reassigned to
    the batch's highest-cost points (0 disables)."""

    batchSize = Param(
        Params._dummy(), "batchSize", "expected rows per mini-batch (> 0)",
        typeConverter=TypeConverters.toInt,
    )
    maxNoImprovement = Param(
        Params._dummy(), "maxNoImprovement",
        "stop after this many batches without distortion improvement (0 = never)",
        typeConverter=TypeConverters.toInt,
    )
    reassignmentRatio = Param(
        Params._dummy(), "reassignmentRatio",
        "centers with cumulative weight below this fraction of the heaviest "
        "center's weight are reassigned to the batch's highest-cost points "
        "(0 disables)",
        typeConverter=TypeConverters.toFloat,
    )

    @keyword_only
    def __init__(
        self,
        *,
        featuresCol: str = "features",
        predictionCol: str = "prediction",
        k: int = 2,
        divergence: str = "squaredEuclidean",
        smoothing: float = 1e-10,
        maxIter: int = 100,
        tol: float = 1e-4,
        seed: Optional[int] = None,
        batchSize: int = 1024,
        maxNoImprovement: int = 10,
        reassignmentRatio: float = 0.01,
        weightCol: Optional[str] = None,
    ):
        super(MiniBatchKMeans, self).__init__()
        self._java_obj = self._new_java_obj(
            "graft.clustering.MiniBatchKMeans", self.uid
        )
        self._setDefault(
            k=2, divergence="squaredEuclidean", smoothing=1e-10,
            maxIter=100, tol=1e-4, batchSize=1024, maxNoImprovement=10,
            reassignmentRatio=0.01,
        )
        kwargs = self._input_kwargs
        self.setParams(**{k_: v for k_, v in kwargs.items() if v is not None})

    @keyword_only
    def setParams(self, **kwargs: Any) -> "MiniBatchKMeans":
        return self._set(**self._input_kwargs)

    def setK(self, value: int) -> "MiniBatchKMeans":
        return self._set(k=value)

    def setBatchSize(self, value: int) -> "MiniBatchKMeans":
        return self._set(batchSize=value)

    def setMaxNoImprovement(self, value: int) -> "MiniBatchKMeans":
        return self._set(maxNoImprovement=value)

    def setReassignmentRatio(self, value: float) -> "MiniBatchKMeans":
        return self._set(reassignmentRatio=value)

    def getBatchSize(self) -> int:
        return self.getOrDefault(self.batchSize)

    def getMaxNoImprovement(self) -> int:
        return self.getOrDefault(self.maxNoImprovement)

    def getReassignmentRatio(self) -> float:
        return self.getOrDefault(self.reassignmentRatio)

    def _create_model(self, java_model: Any) -> "GeneralizedKMeansModel":
        return GeneralizedKMeansModel(java_model)


def minibatch_step(
    batch: DataFrame,
    features_col: str,
    id_col: str,
    state: DataFrame,
    divergence: str = "squaredEuclidean",
    smoothing: float = 1e-10,
    reassignment_ratio: float = 0.01,
) -> DataFrame:
    """ONE mini-batch update at caller-fixed state — assignment at the
    current centers, the Sculley closed-form running-mean merge, then
    the ``reassignment_ratio`` dying-center rule (centers below that
    fraction of the heaviest center's weight move to the batch's
    highest-cost points, cost DESC / ``id_col`` ASC tie-break, count
    reset to 1; ``id_col=""`` skips the tie-break). ``state`` is a
    k-row (cluster 0..k-1, cv array<double>, cnt double) frame; returns
    the updated frame in the same shape. The exact batch body of
    ``MiniBatchKMeans.fit``, exposed for external incremental training
    loops."""
    jvm = batch.sparkSession.sparkContext._jvm
    j = jvm.graft.clustering.MiniBatchKMeans.stepDf(
        batch._jdf, features_col, id_col, state._jdf, divergence,
        float(smoothing), float(reassignment_ratio))
    return DataFrame(j, batch.sparkSession)


class _SoftKMeansParams(_GeneralizedKMeansParams):
    beta = Param(
        Params._dummy(), "beta",
        "inverse temperature of the Boltzmann soft assignment (> 0)",
        typeConverter=TypeConverters.toFloat,
    )
    minMembership = Param(
        Params._dummy(), "minMembership",
        "memberships below this are zeroed then renormalized",
        typeConverter=TypeConverters.toFloat,
    )
    probabilityCol = Param(
        Params._dummy(), "probabilityCol",
        "output column with the per-cluster membership vector",
        typeConverter=TypeConverters.toString,
    )

    def getBeta(self) -> float:
        return self.getOrDefault(self.beta)

    def getMinMembership(self) -> float:
        return self.getOrDefault(self.minMembership)

    def getProbabilityCol(self) -> str:
        return self.getOrDefault(self.probabilityCol)


class SoftKMeans(JavaEstimator, _SoftKMeansParams, JavaMLReadable, JavaMLWritable):
    """Fuzzy c-means under any Bregman divergence: soft Boltzmann
    memberships, distributed membership-weighted M-step."""

    @keyword_only
    def __init__(
        self,
        *,
        featuresCol: str = "features",
        predictionCol: str = "prediction",
        probabilityCol: str = "probability",
        k: int = 2,
        beta: float = 2.0,
        minMembership: float = 0.0,
        divergence: str = "squaredEuclidean",
        smoothing: float = 1e-10,
        maxIter: int = 20,
        tol: float = 1e-4,
        seed: Optional[int] = None,
        initMode: str = "k-means||",
        initSteps: int = 2,
        weightCol: Optional[str] = None,
    ):
        super(SoftKMeans, self).__init__()
        self._java_obj = self._new_java_obj("graft.clustering.SoftKMeans", self.uid)
        self._setDefault(
            k=2, beta=2.0, minMembership=0.0, divergence="squaredEuclidean",
            smoothing=1e-10, maxIter=20, tol=1e-4, initMode="k-means||",
            initSteps=2, probabilityCol="probability",
        )
        kwargs = self._input_kwargs
        self.setParams(**{k_: v for k_, v in kwargs.items() if v is not None})

    @keyword_only
    def setParams(self, **kwargs: Any) -> "SoftKMeans":
        return self._set(**self._input_kwargs)

    def setK(self, value: int) -> "SoftKMeans":
        return self._set(k=value)

    def setBeta(self, value: float) -> "SoftKMeans":
        return self._set(beta=value)

    def setMinMembership(self, value: float) -> "SoftKMeans":
        return self._set(minMembership=value)

    def setProbabilityCol(self, value: str) -> "SoftKMeans":
        return self._set(probabilityCol=value)

    def _create_model(self, java_model: Any) -> "SoftKMeansModel":
        return SoftKMeansModel(java_model)


class SoftKMeansModel(JavaModel, _SoftKMeansParams, JavaMLReadable, JavaMLWritable):
    """Model fitted by :class:`SoftKMeans`: ``transform`` appends the hard
    prediction and the membership vector column."""

    def clusterCenters(self) -> List[List[float]]:
        return [[float(x) for x in jc] for jc in self._java_obj.clusterCenters()]

    @property
    def numClusters(self) -> int:
        return self._call_java("numClusters")

    def hasSummary(self) -> bool:
        return self._call_java("hasSummary")

    @property
    def summary(self) -> "TrainingSummary":
        return TrainingSummary(self._call_java("summary"))


class _KMedoidsParams(HasFeaturesCol, HasPredictionCol, HasMaxIter, HasSeed):
    k = Param(
        Params._dummy(), "k", "number of medoids (> 1)",
        typeConverter=TypeConverters.toInt,
    )
    distanceFunction = Param(
        Params._dummy(), "distanceFunction",
        "euclidean|manhattan|cosine",
        typeConverter=TypeConverters.toString,
    )

    def getK(self) -> int:
        return self.getOrDefault(self.k)

    def getDistanceFunction(self) -> str:
        return self.getOrDefault(self.distanceFunction)


class KMedoids(JavaEstimator, _KMedoidsParams, JavaMLReadable, JavaMLWritable):
    """PAM (BUILD + best-improvement SWAP) k-medoids over an arbitrary
    metric; the driver tier is capped (``maxDriverPoints``) — use
    :class:`CLARA` above the cap."""

    maxDriverPoints = Param(
        Params._dummy(), "maxDriverPoints",
        "refuse exact PAM above this many points",
        typeConverter=TypeConverters.toInt,
    )

    @keyword_only
    def __init__(
        self,
        *,
        featuresCol: str = "features",
        predictionCol: str = "prediction",
        k: int = 2,
        distanceFunction: str = "euclidean",
        maxIter: int = 10,
        maxDriverPoints: int = 20000,
        seed: Optional[int] = None,
    ):
        super(KMedoids, self).__init__()
        self._java_obj = self._new_java_obj("graft.clustering.KMedoids", self.uid)
        self._setDefault(
            k=2, distanceFunction="euclidean", maxIter=10, maxDriverPoints=20000
        )
        kwargs = self._input_kwargs
        self.setParams(**{k_: v for k_, v in kwargs.items() if v is not None})

    @keyword_only
    def setParams(self, **kwargs: Any) -> "KMedoids":
        return self._set(**self._input_kwargs)

    def setK(self, value: int) -> "KMedoids":
        return self._set(k=value)

    def setMaxDriverPoints(self, value: int) -> "KMedoids":
        return self._set(maxDriverPoints=value)

    def getMaxDriverPoints(self) -> int:
        return self.getOrDefault(self.maxDriverPoints)

    def setDistanceFunction(self, value: str) -> "KMedoids":
        return self._set(distanceFunction=value)

    def _create_model(self, java_model: Any) -> "KMedoidsModel":
        return KMedoidsModel(java_model)


class CLARA(JavaEstimator, _KMedoidsParams, JavaMLReadable, JavaMLWritable):
    """Scalable k-medoids: PAM on ``numSamples`` random samples, each
    candidate medoid set scored over the FULL dataset distributed."""

    numSamples = Param(
        Params._dummy(), "numSamples", "number of PAM samples",
        typeConverter=TypeConverters.toInt,
    )
    sampleSize = Param(
        Params._dummy(), "sampleSize", "points per PAM sample",
        typeConverter=TypeConverters.toInt,
    )

    @keyword_only
    def __init__(
        self,
        *,
        featuresCol: str = "features",
        predictionCol: str = "prediction",
        k: int = 2,
        distanceFunction: str = "euclidean",
        maxIter: int = 10,
        numSamples: int = 5,
        sampleSize: int = 200,
        seed: Optional[int] = None,
    ):
        super(CLARA, self).__init__()
        self._java_obj = self._new_java_obj("graft.clustering.CLARA", self.uid)
        self._setDefault(
            k=2, distanceFunction="euclidean", maxIter=10,
            numSamples=5, sampleSize=200,
        )
        kwargs = self._input_kwargs
        self.setParams(**{k_: v for k_, v in kwargs.items() if v is not None})

    @keyword_only
    def setParams(self, **kwargs: Any) -> "CLARA":
        return self._set(**self._input_kwargs)

    def setK(self, value: int) -> "CLARA":
        return self._set(k=value)

    def setNumSamples(self, value: int) -> "CLARA":
        return self._set(numSamples=value)

    def setSampleSize(self, value: int) -> "CLARA":
        return self._set(sampleSize=value)

    def _create_model(self, java_model: Any) -> "KMedoidsModel":
        return KMedoidsModel(java_model)


class KMedoidsModel(JavaModel, _KMedoidsParams, JavaMLReadable, JavaMLWritable):
    """Model fitted by :class:`KMedoids` or :class:`CLARA`; the centers are
    actual data points (medoids)."""

    def medoids(self) -> List[List[float]]:
        return [[float(x) for x in jc] for jc in self._java_obj.medoids()]

    @property
    def numClusters(self) -> int:
        return self._call_java("numClusters")

    @property
    def summary(self) -> "TrainingSummary":
        """Training telemetry (raises if the model was loaded, not fit)."""
        return TrainingSummary(self._call_java("summary"))


class TrainingSummary:
    """Eager snapshot of the Scala ``TrainingSummary`` case class."""

    def __init__(self, java_summary: Any):
        self.algorithm: str = java_summary.algorithm()
        self.k: int = java_summary.k()
        self.effectiveK: int = java_summary.effectiveK()
        self.dim: int = java_summary.dim()
        self.numPoints: int = java_summary.numPoints()
        self.iterations: int = java_summary.iterations()
        self.converged: bool = java_summary.converged()
        self.divergence: str = java_summary.divergence()
        self.elapsedMillis: int = java_summary.elapsedMillis()
        self.finalDistortion: float = java_summary.finalDistortion()
        self.avgIterationMillis: float = java_summary.avgIterationMillis()
        bsr = java_summary.boundSkipRate()
        self.boundSkipRate: Optional[float] = (
            float(bsr.get()) if bsr.isDefined() else None)
        rea = java_summary.reassignments()
        self.reassignments: Optional[int] = (
            int(rea.get()) if rea.isDefined() else None)

    def __repr__(self) -> str:
        return (
            f"TrainingSummary(algorithm={self.algorithm!r}, k={self.k}, "
            f"effectiveK={self.effectiveK}, iterations={self.iterations}, "
            f"converged={self.converged}, "
            f"finalDistortion={self.finalDistortion:.6g})"
        )


# ---- evaluation metrics (module-level functions over a fitted model) ----
# Thin shims over graft.clustering.MetricsBridge: the model's java object
# crosses py4j as-is, primitives stay primitive (no boxed collections —
# see the Seq[Long] unboxing hazard), frames come back as DataFrames.


def _bridge(df: DataFrame) -> Any:
    return df.sparkSession.sparkContext._jvm.graft.clustering.MetricsBridge


def _wrap(df: DataFrame, jdf: Any) -> DataFrame:
    return DataFrame(jdf, df.sparkSession)


def silhouette(
    model: GeneralizedKMeansModel,
    df: DataFrame,
    features_col: str = "features",
    fraction: float = 0.1,
    seed: int = 42,
) -> float:
    """Sampled center-proxy silhouette of ``model`` over ``df``."""
    return _bridge(df).silhouette(
        model._java_obj, df._jdf, features_col, float(fraction), int(seed))


def exact_silhouette(
    model: GeneralizedKMeansModel,
    df: DataFrame,
    features_col: str = "features",
    max_points: int = 10000,
) -> float:
    """Exact O(n^2) silhouette; refuses above ``max_points`` rows."""
    return _bridge(df).exactSilhouette(
        model._java_obj, df._jdf, features_col, int(max_points))


def clustering_metrics(
    model: GeneralizedKMeansModel,
    df: DataFrame,
    features_col: str = "features",
) -> DataFrame:
    """One-row DataFrame: wcss, bcss, calinski_harabasz, davies_bouldin,
    dunn, balance_ratio, n_points, k."""
    return _wrap(df, _bridge(df).compute(model._java_obj, df._jdf, features_col))


def cluster_sizes(
    model: GeneralizedKMeansModel,
    df: DataFrame,
    features_col: str = "features",
) -> DataFrame:
    """Per-cluster sizes as (cluster, n)."""
    return _wrap(df, _bridge(df).clusterSizes(model._java_obj, df._jdf, features_col))


def elbow_curve(
    df: DataFrame,
    features_col: str = "features",
    min_k: int = 2,
    max_k: int = 10,
    divergence: str = "squaredEuclidean",
    max_iter: int = 20,
    seed: int = 42,
) -> DataFrame:
    """(k, wcss) sweep for the elbow plot."""
    return _wrap(df, _bridge(df).elbowCurve(
        df._jdf, features_col, int(min_k), int(max_k), divergence,
        int(max_iter), int(seed)))


def register_beta_divergence(spark: Any, name: str, beta: float) -> None:
    """Register a named member of the beta-divergence family on the JVM
    (``beta`` → 0 is Itakura-Saito, → 1 is generalized-I, = 2 is squared
    Euclidean). After registration every estimator accepts
    ``divergence=name``. Only the name and the float cross py4j — a
    Python lambda cannot ride into executor codegen, so fully custom
    divergences remain a JVM-side extension
    (``graft.kernels.KernelFactory.register``); this parametric family is
    the Python-reachable surface.

    Registration is process-local (same contract as Spark UDF
    registration): re-register after restarting the driver before
    loading a model persisted with the custom name.
    """
    spark.sparkContext._jvm.graft.kernels.KernelFactory.registerBeta(
        name, float(beta))


__all__ += [
    "silhouette",
    "exact_silhouette",
    "clustering_metrics",
    "cluster_sizes",
    "elbow_curve",
    "register_beta_divergence",
]


# Streaming wrappers live in graft.streaming (mirroring the JVM package,
# which cross-language save/load derives class names from); re-exported
# here for convenience. Import at the bottom to avoid a circular import
# (graft.streaming imports the shared bases from this module).
from graft.streaming import StreamingKMeans, StreamingKMeansModel  # noqa: E402

__all__ += ["StreamingKMeans", "StreamingKMeansModel"]
