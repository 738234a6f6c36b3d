package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-space dataset diversity metrics — the coverage/redundancy
  * signals a training-data pipeline reports per source or per topic
  * cluster before fixing mixture weights.
  *
  * Everything is closed-form over ONE pass of the corpus:
  *
  *  - group centroids are elementwise means via posexplode + (group, pos)
  *    hash aggregate — one shuffle of (group, pos, value) rows, never a
  *    driver-side vector: the group count is the data's, unbounded (IVF's
  *    nlist centroids, by contrast, train on the driver from a bounded
  *    sample, Similarity.trainIvf)
  *  - per-vector centroid distance is a broadcast join (centroids are
  *    #groups × dim — tiny) + a codegen'd zip_with fold per row
  *  - group diversity uses the variance identity
  *    E‖x−y‖² = 2·E‖x−c‖² (x, y independent draws, c the mean), so the
  *    expected pairwise squared distance needs NO pair join — the
  *    O(n²)-pairs statistic comes out of the O(n) moment. At 100 TB this
  *    is the difference between a report query and an impossible one.
  */
object Diversity {

  /** Per-group elementwise mean vectors: (byCol, centroid ARRAY<DOUBLE>). */
  def centroids(df: DataFrame, vecCol: String, byCol: String): DataFrame =
    df.select(col(byCol), posexplode(col(vecCol)).as(Seq("__pos", "__x")))
      .groupBy(col(byCol), col("__pos"))
      .agg(avg(col("__x")).as("__m"))
      .groupBy(col(byCol))
      .agg(array_sort(collect_list(struct(col("__pos"), col("__m"))))
        .as("__pm"))
      .select(col(byCol),
        transform(col("__pm"), pm => pm.getField("__m")).as("centroid"))

  private def dist2(a: Column, c: Column): Column =
    aggregate(zip_with(a, c, (x, y) =>
      (x.cast("double") - y) * (x.cast("double") - y)),
      lit(0.0), (acc, v) => acc + v)

  /** Per-vector squared L2 distance to its group centroid:
    * (idCol, byCol, d2) with d2 rounded to 6 dp.
    */
  def centroidDistances(df: DataFrame, idCol: String, vecCol: String,
                        byCol: String): DataFrame = {
    val cent = centroids(df, vecCol, byCol)
    df.join(broadcast(cent), byCol)
      .select(col(idCol), col(byCol),
        round(dist2(col(vecCol), col("centroid")), 6).as("d2"))
  }

  /** Per-group diversity report: member count, mean squared centroid
    * distance (the trace of the group covariance), and the closed-form
    * expected pairwise squared distance 2·msd.
    */
  def groupDiversity(df: DataFrame, idCol: String, vecCol: String,
                     byCol: String): DataFrame = {
    val cent = centroids(df, vecCol, byCol)
    df.join(broadcast(cent), byCol)
      .select(col(byCol), dist2(col(vecCol), col("centroid")).as("__d2"))
      .groupBy(col(byCol))
      .agg(count(lit(1)).as("n"),
        round(avg(col("__d2")), 6).as("msd"),
        round(avg(col("__d2")) * 2, 6).as("expected_pair_d2"))
  }
}
