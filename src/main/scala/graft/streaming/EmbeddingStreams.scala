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
    * the centroid matrix rides the plan as a codegen literal
    * ([[graft.functions.NearestCells]]), so throughput is scan speed.
    *
    * Batch parity: distances here are the plain squared-euclidean loop,
    * while the batch assignment expands e·e − 2e·c + c·c — identical
    * argmin except for vectors sitting within float-ulp of a Voronoi
    * boundary; StreamingSpec asserts exact agreement on the corpus. */
  def clusterAssignStream(stream: DataFrame,
      centroids: Seq[(Long, Seq[Double])]): DataFrame = {
    val sorted = centroids.sortBy(_._1)
    val book = sorted.map(_._2)
    // NearestCells returns the 0-based ordinal into the sorted book;
    // translate it back to the batch layer's cell label (the seed
    // vec_id — arbitrary under hash-ordered seeding, so the ordinal and
    // the label no longer coincide). Ties break to the lowest ordinal =
    // lowest cell id, matching batch min(struct(d2, cell)).
    val cellIds = array(sorted.map(c => lit(c._1.toInt)): _*)
    stream.select(col("vec_id"),
      element_at(cellIds,
        element_at(graft.functions.NearestCells.column(
          col("embedding").cast("array<double>"), book, 1), 1) + lit(1))
        .as("cluster"))
  }
}
