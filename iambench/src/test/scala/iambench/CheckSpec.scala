package iambench

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.PropertyGraph
import graft.sources.{GraphStorage, GroovyLoader}

/** The checks accept the program's answers on a small organisation and
  * flag an answer with one wrong row. */
class CheckSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = Files.createTempDirectory("iambench-check").toFile
  private val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", new File(dir, "spark").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  private val in = new Inputs(Generator.generate(5, Generator.Small), 5)

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  private def load(sub: String) = {
    import spark.implicits._
    GroovyLoader.load(spark.read.option("wholetext", "true")
      .text(new File(dir, sub).toString).as[String], Org.KeyProps)
  }

  private lazy val store: String = {
    in.writeBase(new File(dir, "groovy"))
    in.writeDelta(new File(dir, "delta"))
    val path = new File(dir, "store").toString
    val (v, e) = load("groovy")
    GraphStorage.write(PropertyGraph(v, e), path)
    val (dv, de) = load("delta")
    GraphStorage.merge(spark, path, dv, de)
    path
  }

  test("loaded ids match the generator's ids") {
    val g = GraphStorage.load(spark, store)
    val ids = g.vertices.select("id").collect().map(_.getLong(0)).toSet
    assert(ids == in.org.id.toSet)
  }

  test("closure() passes; the same closure with one pair dropped is flagged") {
    val c = GraphStorage.load(spark, store).closure().cache()
    assert(Checks.digest("closure", Checks.digestOf(c, "origin", "node"), in.closure).isEmpty)
    val dropped = c.except(c.orderBy("origin", "node").limit(1))
    assert(Checks.digest("closure", Checks.digestOf(dropped, "origin", "node"), in.closure).nonEmpty)
  }

  test("WITH RECURSIVE passes the same check") {
    GraphStorage.load(spark, store).edges.select("src", "dst").createOrReplaceTempView("iam_edges")
    assert(Checks.digest("sql", spark.sql(in.reachSql("iam_edges")).head(), in.closure).isEmpty)
  }

  test("a replay that appends nothing passes; one extra appended row is flagged") {
    val (dv, de) = load("delta")
    GraphStorage.merge(spark, store, dv, de)
    val g = GraphStorage.load(spark, store)
    val whole = (in.org.n.toLong, in.org.m.toLong)
    assert(Checks.census("replay", (g.vertices.count(), g.edges.count()), whole).isEmpty)
    g.edges.limit(1).localCheckpoint().write.mode(SaveMode.Append).parquet(s"$store/edges")
    val after = GraphStorage.load(spark, store)
    assert(Checks.census("replay", (after.vertices.count(), after.edges.count()), whole).nonEmpty)
  }

  test("the reach batch matches a BFS over the generated edges; a missing vertex is flagged") {
    val g = GraphStorage.load(spark, store)
    val ids = graft.gremlin.GremlinLite.run(g, in.reachBatch.text, Map.empty, Org.KeyProps)
      .collect().map(_.getLong(0)).toSet
    assert(Checks.same("reach", ids, in.reachBatch.expect).isEmpty)
    assert(Checks.same("reach", ids - ids.head, in.reachBatch.expect).nonEmpty)
  }

  test("console answers match; a wrong one is flagged") {
    val g = GraphStorage.load(spark, store)
    in.console.take(15).foreach { q =>
      val got = graft.gremlin.GremlinLite.run(g, q.text, q.bindings, Org.KeyProps).collect().toSeq
        .map(r => if (q.shape == "out_valueMap") Run.vertexLine(r) else r.toSeq.mkString("=")).sorted
      assert(Checks.same(q.text, got, q.expect).isEmpty, q.text)
      assert(Checks.same(q.text, got :+ "extra", q.expect).nonEmpty)
    }
  }
}
