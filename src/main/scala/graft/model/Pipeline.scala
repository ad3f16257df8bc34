package graft.model

import org.apache.spark.ml.attribute.NominalAttribute
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.datagen.SyntheticFeatures
import graft.store.FeatureStore

/** End-to-end reference-fidelity pipeline — the Spark rendition of
  * `/root/reference/src/main.py:7-45`: generate → publish feature store →
  * exact 80/20 split → seeded RF fit → predict → accuracy → persist
  * model/predictions/run-info.
  */
object Pipeline {

  final case class Result(accuracy: Double, nTrain: Long, nTest: Long)

  val featureCols: Seq[String] =
    (0 until SyntheticFeatures.numFeatures).map(i => s"feature_$i")

  /** Generated rows per partition of the pipeline's input, so the 100-row
    * reference run is one partition (no exchange under the split's global
    * window) while large runs keep the generator's default parallelism. */
  private val rowsPerPartition = 1L << 16

  /** The generator's target is binary by construction: declaring it lets
    * the RF fit skip its label-max job. */
  private val binaryLabel =
    NominalAttribute.defaultAttr.withName("target").withNumValues(2).toMetadata()

  /** One pinned frame — ranked, split-marked, assembled — feeds the
    * feature-store CSV, the fit and the prediction, so the generator and
    * the split's window run once per call. */
  def run(spark: SparkSession, outRoot: String, n: Long = 100,
          numTrees: Int = 100, seed: Long = 42): Result = {
    val parts = ((n + rowsPerPartition - 1) / rowsPerPartition).max(1L).min(32L)
    val marked = TrainEval.markTest(
      SyntheticFeatures.generate(spark, n, parts.toInt), "row_id", 0.2, seed)
    val frame = TrainEval.assemble(marked, featureCols)
      .withMetadata("target", binaryLabel)
      .cache()
    FeatureStore.writeCsv(frame.select((featureCols :+ "target").map(col): _*),
      s"$outRoot/feature_store/features.csv", Seq("target", "feature_0"))

    val isTest = col(TrainEval.TestCol)
    val model = TrainEval.trainRF(frame.where(!isTest), "target", numTrees, seed)
    val pred = TrainEval.predict(model, frame.where(isTest)).cache()

    val accRow = TrainEval.accuracy(pred, "target", "prediction").head()
    val acc = accRow.getDouble(0)
    val nTest = accRow.getLong(1)

    Persist.saveModel(model, s"$outRoot/model_runs/random_forest")
    Persist.savePredictions(pred, "target", "prediction",
      s"$outRoot/model_runs/predictions.csv")
    Persist.saveRunInfo(acc, s"$outRoot/model_runs/random_forest",
      s"$outRoot/feature_store/features.csv",
      s"$outRoot/model_runs/predictions.csv",
      s"$outRoot/model_runs/run_info.json")
    frame.unpersist(); pred.unpersist()
    // spark.range yields exactly n rows
    Result(acc, n - nTest, nTest)
  }
}
