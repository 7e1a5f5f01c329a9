package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.SparkTestSession.jobsDuring

class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** `df` as one parquet file at `file` (Spark itself writes a directory) */
  private def writeSingle(df: DataFrame, file: Path): Unit = {
    val tmp = Files.createTempDirectory("graft_tables_part")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
      .findFirst().get
    Files.copy(part, file, StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second load of the same table launches no job") {
    val first = Tables.load(spark, sf, "customer")
    var second: DataFrame = null
    assert(jobsDuring { second = Tables.load(spark, sf, "customer") } == 0)
    assert(second.schema == first.schema)
    // every load is a fresh relation: self-joins see distinct attributes
    val ids = (d: DataFrame) => d.queryExecution.analyzed.output.map(_.exprId)
    assert(ids(first).intersect(ids(second)).isEmpty)
    assert(first.join(second, first("c_custkey") === second("c_custkey"))
      .count() == first.count())
  }

  test("a rewritten file is inferred again") {
    val dir = Files.createTempDirectory("graft_tables")
    val file = dir.resolve("t.parquet")
    writeSingle(spark.range(3).toDF("a"), file)
    assert(Tables.load(spark, dir.toString, "t").columns.toSeq == Seq("a"))
    writeSingle(spark.range(5).select(col("id").as("a"), lit("x").as("b")), file)
    val again = Tables.load(spark, dir.toString, "t")
    assert(again.columns.toSeq == Seq("a", "b"))
    assert(again.count() == 5)
  }

  test("events.ts is a TIMESTAMP on every load") {
    (1 to 2).foreach { _ =>
      val e = Tables.load(spark, sf, "events")
      assert(e.schema("ts").dataType == TimestampType)
      assert(e.filter(col("ts").isNotNull).count() > 0)
    }
  }
}
