package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming twins of the embedding operators: the batch layer trains
  * (centroids, codebooks — tiny metadata), the stream routes against
  * the broadcast book with ZERO streaming state — the same
  * train-batch/score-stream discipline as [[EventStreams.anomalyStream]].
  */
object EmbeddingStreams {

  /** Stream-static cluster routing — assign each incoming embedding to
    * its nearest trained k-means centroid (the ingest shard router /
    * online SemDeDup front-end: a new vector only needs comparing
    * against its cluster's members). Stateless append-mode projection;
    * the centroid book rides the plan as a codegen literal, so
    * throughput is scan speed.
    *
    * Batch parity by construction: routing runs the batch assignment's
    * own kernel ([[graft.functions.NearestCentroid]]: the same d²
    * arithmetic, the same smaller-cell tie-break), so a vector routes
    * to the cluster `emb_kmeans` gives it. */
  def clusterAssignStream(stream: DataFrame,
      centroids: Seq[(Long, Seq[Double])]): DataFrame =
    stream.select(col("vec_id"),
      graft.functions.NearestCentroid.column(
        col("embedding").cast("array<double>"), centroids)
        .getField("cell").cast("int").as("cluster"))
}
