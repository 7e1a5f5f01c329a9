package graft.graph

import org.apache.spark.graphx.{Edge, Graph, PartitionStrategy, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** GraphX reference implementations for the [[GraphOps]] cross-checks
  * in `GraphSpec`. The library runs every graph operator as a
  * DataFrame plan; GraphX stays in test scope as an independent
  * oracle. Outputs use the library's column names. */
object GraphXRef {

  /** DataFrame pair → GraphX graph. Properties are not carried (the
    * analytics need only the topology; join results back by id). */
  def toGraphX(vertices: DataFrame, edges: DataFrame): Graph[Unit, Unit] = {
    val vr: RDD[(VertexId, Unit)] =
      vertices.select(col("id").cast("long")).rdd.map(r => (r.getLong(0), ()))
    val er: RDD[Edge[Unit]] =
      edges.select(col("src").cast("long"), col("dst").cast("long"))
        .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    Graph(vr, er, (), StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK)
  }

  /** (id, component), component = min vertex id reachable. */
  def connectedComponents(spark: SparkSession, vertices: DataFrame,
      edges: DataFrame): DataFrame = {
    import spark.implicits._
    toGraphX(vertices, edges).connectedComponents()
      .vertices.map { case (id, cc) => (id, cc) }
      .toDF("id", "component")
  }

  /** (id, rank): static PageRank (resetProb 0.15). Float-summation
    * order in Pregel is partition-dependent, so compare by tolerance. */
  def pageRank(spark: SparkSession, vertices: DataFrame,
      edges: DataFrame, iters: Int): DataFrame = {
    import spark.implicits._
    toGraphX(vertices, edges).staticPageRank(iters)
      .vertices.map { case (id, r) => (id, r) }
      .toDF("id", "rank")
  }

  /** (id, triangles): undirected triangle count per vertex. */
  def triangleCounts(spark: SparkSession, vertices: DataFrame,
      edges: DataFrame): DataFrame = {
    import spark.implicits._
    toGraphX(vertices, edges).partitionBy(PartitionStrategy.RandomVertexCut)
      .triangleCount()
      .vertices.map { case (id, n) => (id, n) }
      .toDF("id", "triangles")
  }
}
