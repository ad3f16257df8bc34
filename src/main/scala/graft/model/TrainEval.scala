package graft.model

import org.apache.spark.ml.classification.{RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Train/evaluate pipeline with the reference's semantics
  * (`/root/reference/src/model_training.py:5-14`): exact-count shuffled
  * split → seeded random forest → batch inference → accuracy.
  *
  * Split semantics (SURVEY.md §7.4): sklearn's `train_test_split` is an
  * exact-count shuffled split, Spark's `randomSplit` is Bernoulli. We ship
  * both: [[exactSplit]] reproduces the exact 80/20 contract for
  * reference-fidelity tests (global rank — fine at model-training scale,
  * where labeled data is the small end of the lake), [[bernoulliSplit]]
  * is the shuffle-free 100 TB path.
  */
object TrainEval {

  /** Exact-count split: deterministic hash-shuffled global rank, test set
    * gets exactly ⌈n·testFrac⌉ rows — sklearn `train_test_split` sizes the
    * test set with ceil (reference semantics; identical to floor at the
    * reference's n=100 but not at e.g. n=123). Launches no job: the test
    * size comes from a `count(1) over ()` in the same window as the rank
    * ([[markTest]]), so `train` and `test` are lazy. Both still run one
    * global single-partition window — the price of the exact count,
    * acceptable at model-training scale, where labeled data is the small
    * end of the lake, not for lake-scale ETL (use [[bernoulliSplit]]). */
  def exactSplit(df: DataFrame, idCol: String, testFrac: Double,
                 seed: Long): (DataFrame, DataFrame) = {
    val marked = markTest(df, idCol, testFrac, seed)
    (marked.where(!col(TestCol)).drop(TestCol),
      marked.where(col(TestCol)).drop(TestCol))
  }

  /** The boolean column [[markTest]] adds. */
  val TestCol = "__test"

  /** `df` in [[exactSplit]]'s rank order with [[TestCol]] true on its
    * test rows, so one frame can serve both sides of the split. */
  def markTest(df: DataFrame, idCol: String, testFrac: Double,
               seed: Long): DataFrame = {
    val rank = row_number()
      .over(Window.orderBy(xxhash64(col(idCol), lit(seed)), col(idCol)))
    val nTest = ceil(count(lit(1)).over() * testFrac)
    df.withColumn(TestCol, rank <= nTest)
  }

  /** Bernoulli split — approximate fractions, zero shuffle, scale path. */
  def bernoulliSplit(df: DataFrame, weights: Array[Double],
                     seed: Long): Array[DataFrame] =
    df.randomSplit(weights, seed)

  /** Assemble feature columns into MLlib's vector column. */
  def assemble(df: DataFrame, featureCols: Seq[String]): DataFrame =
    new VectorAssembler().setInputCols(featureCols.toArray)
      .setOutputCol("features").transform(df)

  /** Seeded random forest fit on an [[assemble]]d frame, mirroring the
    * reference's `RandomForestClassifier(n_estimators=100,
    * random_state=42)` with sklearn's defaults (gini, sqrt feature
    * subsetting). A label column carrying `NominalAttribute` metadata
    * saves the fit its label-max job. */
  def trainRF(train: DataFrame, labelCol: String, numTrees: Int = 100,
              seed: Long = 42): RandomForestClassificationModel =
    new RandomForestClassifier()
      .setNumTrees(numTrees)
      .setSeed(seed)
      .setLabelCol(labelCol)
      .setFeaturesCol("features")
      .setFeatureSubsetStrategy("sqrt")
      .fit(train)

  /** Batch inference over an [[assemble]]d frame: appends `prediction`. */
  def predict(model: RandomForestClassificationModel,
              test: DataFrame): DataFrame =
    model.transform(test)

  /** Accuracy as a 1-row DataFrame — mean(actual == predicted), the
    * reference's `accuracy_score` (R10). */
  def accuracy(pred: DataFrame, actualCol: String, predCol: String): DataFrame =
    pred.agg(
      round(avg(when(col(actualCol) === col(predCol), 1.0).otherwise(0.0)), 6)
        .as("accuracy"),
      count(lit(1)).as("n"))
}
