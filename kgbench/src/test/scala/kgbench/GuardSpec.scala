package kgbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own tests: every workload, at a small size, must time
  * only fully executed jobs (noop sink, file writes or collected results,
  * never `count()`), keep alias_cc's final global sort, and pass its output
  * checks. `cd kgbench && sbt test` */
class GuardSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val out = Files.createTempDirectory("kgbench-spec")
  private lazy val spark: SparkSession = Main.session(2, out)

  override def afterAll(): Unit = spark.stop()

  private def exercise(w: Workload): Tracer = {
    val t = new Tracer(spark, "spec", enabled = true)
    w.setup(spark, 7L)
    w.rep(t)
    t.jobs.clear()
    w.rep(t)
    val notes = mutable.ArrayBuffer[String]()
    assert(w.check(t, notes) == 0, notes.mkString("; "))
    assert(t.problems.isEmpty, t.problems.mkString("; "))
    assert(t.jobs.nonEmpty)
    t.jobs.foreach { j => assert(Guard.fullyExecuted(j.actions.last), j) }
    t
  }

  test("a job ending in count() is flagged, a noop job is not") {
    val t = new Tracer(spark, "spec", enabled = false)
    t.job("counted")(spark.range(100).count())
    t.noop("sunk")(spark.range(100).toDF())
    assert(t.problems.size == 1 && t.problems.head.startsWith("counted ended in count()"))
    assert(Guard.fullyExecuted(t.jobs.last.actions.last))
  }

  test("a job whose sort was pruned away is flagged") {
    val t = new Tracer(spark, "spec", enabled = false)
    t.job("unsorted", needsSort = true) {
      spark.range(100).toDF("vertex").write.format("noop").mode("overwrite").save()
    }
    assert(t.problems.toSeq == Seq("unsorted lost its final global Sort"))
  }

  test("a page whose triples differ from truth counts as one failed operation") {
    val want = Map(("u1", "COLLECT") -> (2L, 10L), ("u2", "COLLECT") -> (1L, 5L))
    val got = want.updated(("u2", "SUBSUM"), (1L, 7L))
    val notes = mutable.ArrayBuffer[String]()
    assert(Workloads.compareTriples(got, want, notes) == 1)
    assert(notes.exists(_.contains("predicate SUBSUM")))
    assert(Workloads.compareTriples(want, want, notes) == 0)
  }

  test("extract_longlists times triplesFromPages to noop; planted pages emit exactly one triple") {
    val t = exercise(new Extract(2, pages = 300, plantedDepths = Vector(2, 10, 25)))
    assert(t.jobs.map(_.name).toSet == Set("kg.KgPipeline.triplesFromPages"))
    assert(t.jobs.head.actions.last.write)
  }

  test("build_analyze writes the stage tables, every query matches truth, alias CC keeps its sort") {
    val w = new BuildAnalyze(2, docs = 200, out.resolve("work"), aliasDiv = 100)
    val t = exercise(w)
    assert(t.jobs.head.name == "kg.KgPipeline.runCheckpointed")
    assert(t.jobs.map(_.name).contains("kg.KgApi.whoCollectFromClosure"))
    assert(t.jobs.last.name == "alias_cc" && t.jobs.last.actions.last.globalSort)
    w.close()
  }
}
