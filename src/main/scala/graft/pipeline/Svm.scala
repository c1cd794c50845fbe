package graft.pipeline

import org.apache.spark.ml.classification.LinearSVC
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Feature assembly + soft-margin SVM train/predict (reference
  * `Trainer.scala`, A7/F1/F2/M3/M4/J3).
  *
  * Label codec: the reference trains on ±1.0 hinge labels
  * (`Trainer.scala:49`); `LinearSVC` (hinge loss — the same objective
  * family as FlinkML's CoCoA SDCA) wants {0,1}, so labels are remapped
  * on the way in and predictions mapped back to ±1.0 on the way out.
  *
  * Id plumbing: the reference re-attaches sample ids to predictions by
  * joining on DenseVector EQUALITY (`Trainer.scala:102-109`, J3) —
  * which collides if two samples share identical vectors. `ml`
  * transformers preserve all input columns, so the id simply rides
  * through `transform` (SURVEY §7.4 risk 3).
  */
object Svm {

  final case class SvmParams(maxIter: Int = 10, regParam: Double = 1.0)

  /** Per-sample dense feature vectors from the completed COO matrix:
    * values sorted by probe id (A7's `sortBy`), asserted equal-length
    * (matrix completeness — the reference silently relies on it; a
    * DUPLICATE (sample, probe) observation upstream also trips this
    * guard, by design: fabricating or arbitrarily picking one of two
    * conflicting observations would be silent data loss).
    */
  def assembleFeatures(matrix: DataFrame): DataFrame = {
    // localCheckpoint: the completeness count below is a full action
    // over this aggregation — the heaviest post-network stage — and the
    // caller's materialization would otherwise run it a SECOND time
    // (the frame is samples-sized, so materializing it is cheap)
    val assembled = matrix
      .groupBy("sample")
      .agg(
        expr("transform(array_sort(collect_list(struct(probe, value))), x -> x.value)")
          .as("values"),
        // fingerprint of the probe SEQUENCE: equal vector lengths alone
        // would let two samples with different probe sets through, and
        // position k would then hold DIFFERENT probes per sample —
        // silently garbled features (quirk Q2's positional bug again)
        expr("md5(concat_ws(',', transform(array_sort(collect_list(struct(probe, value))), x -> x.probe)))")
          .as("probe_sig"))
      .localCheckpoint()
    val sigs = assembled.select("probe_sig").distinct().count()
    require(
      sigs == 1,
      s"samples cover $sigs distinct probe sets — matrix incomplete (or a " +
        "duplicate (sample, probe) observation survived ingest); feature " +
        "positions would misalign")
    assembled.select(col("sample"), array_to_vector(col("values")).as("features"))
  }

  /** Train on the labeled subset (F1 semi-join on training ids),
    * labels ±1.0 → {0,1}.
    */
  def train(
      spark: SparkSession,
      features: DataFrame,
      labels: DataFrame, // (sample INT, tumorous BOOLEAN)
      params: SvmParams = SvmParams(),
  ): org.apache.spark.ml.classification.LinearSVCModel = {
    val training = features
      .join(broadcast(labels), "sample")
      .withColumn("label", when(col("tumorous"), 1.0).otherwise(0.0))
    new LinearSVC()
      .setMaxIter(params.maxIter)
      .setRegParam(params.regParam)
      .setFeaturesCol("features")
      .setLabelCol("label")
      .fit(training)
  }

  /** Predict ±1.0 for the given samples (F2 filter), id preserved
    * through transform — no vector-equality join.
    */
  def predict(
      model: org.apache.spark.ml.classification.LinearSVCModel,
      features: DataFrame,
  ): DataFrame =
    model
      .transform(features)
      .select(
        col("sample"),
        when(col("prediction") === 1.0, 1.0).otherwise(-1.0).as("prediction"))
}
