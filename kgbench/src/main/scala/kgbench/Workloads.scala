package kgbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws, count, lit, max, not, pmod, sum, xxhash64}
import org.apache.spark.storage.StorageLevel

import graft.kg.{AliasResolution, DocKernel, FlowConsistency, GraphBuilder, KgApi, KgPipeline, StageStore}
import graft.kg.Model.{Segment, Triple, WebPage}
import graft.text.HtmlSegmenter

/** Wall time of one measured rep, split into the side that builds the
  * output and the side that reads it (zero when a workload has no such
  * split). */
final case class Rep(wall: Double, build: Double, query: Double)

/** One benchmark workload. A run sets it up several times, warms it, times
  * reps of its job, then checks the output against truth. */
trait Workload {
  /** Pages one rep processes. */
  def units: Long
  /** Operations one rep performs (pages, query outputs, labellings). */
  def opsPerRep: Long
  def setup(spark: SparkSession, seed: Long): Unit
  /** Untimed reps that warm the JVM and the session up before timing. */
  def warmPasses: Int
  def rep(t: Tracer): Rep
  /** Checks the output of the last rep, or of one more untimed pass when
    * reps keep nothing, against truth; returns the failed operations and
    * notes what mismatched. */
  def check(t: Tracer, notes: mutable.Buffer[String]): Long
  /** Traced-run numbers of the layers this workload exercises. */
  def layers(t: Tracer, reps: Seq[Rep]): Map[String, Double]
  def close(): Unit = ()
}

object Workloads {
  val Names: Seq[String] = Seq("extract_longlists", "build_analyze")

  def apply(name: String, cores: Int, work: java.nio.file.Path): Workload = name match {
    case "extract_longlists" =>
      new Extract(cores, pages = 5000, plantedDepths = Inputs.PlantedDepths)
    case "build_analyze" => new BuildAnalyze(cores, docs = 500, work, aliasDiv = 8)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1).max(0))
  }

  /** Order-free digest of (url, subj, pred, obj) rows per (url, pred):
    * row count and a sum of row hashes. */
  def tripleDigest(df: DataFrame): Map[(String, String), (Long, Long)] =
    df.select(col("url"), col("pred"),
        pmod(xxhash64(concat_ws("|", col("url"), col("subj"), col("pred"), col("obj"))),
          lit(1000000007L)).as("h"))
      .groupBy("url", "pred").agg(count(lit(1)), sum("h"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap

  /** Order-free digest (rows, hash sum) of every named result, computed in
    * one job. */
  def resultDigests(results: Seq[(String, DataFrame)]): Map[String, (Long, Long)] =
    results.map { case (k, df) =>
      df.select(lit(k).as("k"),
        pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(1000000007L)).as("h"))
    }.reduce(_ unionByName _).groupBy("k").agg(count(lit(1)), sum("h")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap.withDefaultValue((0L, 0L))

  /** Pages whose triples differ from truth, plus the per-predicate digest
    * (rows, distinct urls, hash sum) comparison. */
  def compareTriples(got: Map[(String, String), (Long, Long)],
      want: Map[(String, String), (Long, Long)], notes: mutable.Buffer[String]): Long = {
    def byUrl(m: Map[(String, String), (Long, Long)]) = m.groupBy(_._1._1)
    val g = byUrl(got)
    val w = byUrl(want)
    val bad = (g.keySet ++ w.keySet).filter(u => g.get(u) != w.get(u))
    def byPred(m: Map[(String, String), (Long, Long)]) = m.groupBy(_._1._2).map { case (p, kv) =>
      p -> (kv.values.map(_._1).sum, kv.size, kv.values.map(_._2).sum)
    }
    val (gp, wp) = (byPred(got), byPred(want))
    (gp.keySet ++ wp.keySet).toSeq.sorted.filter(p => gp.get(p) != wp.get(p)).foreach { p =>
      notes += s"predicate $p digest ${gp.get(p)} != truth ${wp.get(p)}"
    }
    bad.toSeq.sorted.take(3).foreach(u => notes += s"page $u differs from truth")
    bad.size.toLong
  }
}

import Workloads._

// ---------------------------------------------------------------- kernel

/** Single-threaded, driver-side timing and allocation of each kernel layer
  * over sample pages, calling the same public functions the Spark job runs:
  * segment → buildDocs (which includes the NLP parse) → annotate → build.
  * annotate's self time excludes its own buildDocs, measured by a separate
  * buildDocs call on the same segments. Per-layer per-doc numbers cover the
  * ordinary pages; the doc_ms distribution covers every sampled page,
  * planted ones included. */
object KernelLayers {
  def measure(t: Tracer, pages: Seq[(WebPage, Boolean)]): Map[String, Double] = {
    val en = pages.filter(_._1.lang == "en")
    val n = en.count(!_._2).toDouble
    var segUs, segB, bdUs, bdB, anUs, anB, buUs, buB = 0.0
    var segs, ctxToks, triples = 0L
    val docMs = mutable.ArrayBuffer[Double]()
    def timed[T](name: String)(f: => T): (T, Double, Double) = {
      val a0 = Jvm.allocated
      val t0 = System.nanoTime()
      val r = t.span(name)(f)
      ((r, (System.nanoTime() - t0) / 1e3, (Jvm.allocated - a0).toDouble))
    }
    en.foreach { case (p, planted) =>
      t.span("kg.DocKernel.process") {
        val html = new String(p.html, java.nio.charset.StandardCharsets.UTF_8)
        val (sg, us1, b1) = timed("text.HtmlSegmenter.segment")(HtmlSegmenter.segment(p.url, html))
        val sorted = sg.sortBy(_.segId)
        val (docs, us2, b2) = timed("kg.DocKernel.buildDocs")(DocKernel.buildDocs(sorted))
        val (st, us3, b3) = timed("kg.DocKernel.annotate")(DocKernel.annotate(p.url, sg))
        val (out, us4, b4) = timed("kg.GraphBuilder.build")(GraphBuilder.build(st, "extended"))
        docMs += (us3 + us4) / 1e3
        if (!planted) {
          segUs += us1; segB += b1; bdUs += us2; bdB += b2
          anUs += math.max(0.0, us3 - us2); anB += math.max(0.0, b3 - b2); buUs += us4; buB += b4
          segs += sg.size; ctxToks += docs.map(_.toks.size.toLong).sum; triples += out.size
        }
      }
    }
    val k = 1024.0
    Map(
      "text.HtmlSegmenter.segment.us_per_doc" -> segUs / n,
      "text.HtmlSegmenter.segment.kib_per_doc" -> segB / n / k,
      "text.HtmlSegmenter.segment.segments_per_doc" -> segs / n,
      "kg.DocKernel.buildDocs.us_per_doc" -> bdUs / n,
      "kg.DocKernel.buildDocs.kib_per_doc" -> bdB / n / k,
      "kg.DocKernel.buildDocs.ctx_tokens_per_doc" -> ctxToks / n,
      "kg.DocKernel.annotate.us_per_doc" -> anUs / n,
      "kg.DocKernel.annotate.kib_per_doc" -> anB / n / k,
      "kg.GraphBuilder.build.us_per_doc" -> buUs / n,
      "kg.GraphBuilder.build.kib_per_doc" -> buB / n / k,
      "kg.GraphBuilder.build.triples_per_doc" -> triples / n,
      "kg.DocKernel.process.doc_ms.p50" -> quantile(docMs.toSeq, 0.5),
      "kg.DocKernel.process.doc_ms.p99" -> quantile(docMs.toSeq, 0.99),
      "kg.DocKernel.process.doc_ms.max" -> docMs.max,
      "kg.kernel.docs_per_s_1t" -> en.size / (docMs.sum / 1e3))
  }

  /** About 600 evenly spaced pages plus every planted page, each flagged
    * planted or not. */
  def sample(n: Int, seed: Long, planted: Map[Int, Int]): Seq[(WebPage, Boolean)] =
    ((0 until n by math.max(1, n / 600)) ++ planted.keys).distinct.sorted
      .map(i => (Inputs.page(i, seed, planted), planted.contains(i)))
}

// ---------------------------------------------------------------- extract

/** Pages → `KgPipeline.triplesFromPages` → noop. Map-only: the kernel does
  * nearly all the work. A few planted pages carry a deep unclosed list
  * each, so one straggler task sets the wall time. */
final class Extract(cores: Int, pages: Int, plantedDepths: Vector[Int]) extends Workload {
  private val parts = cores * 4
  private var spark: SparkSession = _
  private var seed = 0L
  private var planted = Map.empty[Int, Int]
  private var input: Dataset[WebPage] = _

  def units: Long = pages
  def opsPerRep: Long = pages

  def setup(s: SparkSession, sd: Long): Unit = {
    spark = s
    seed = sd
    planted = Inputs.plantPlan(pages, parts, sd, plantedDepths)
    val pl = planted
    import s.implicits._
    input = s.range(0, pages, 1, parts).map(i => Inputs.page(i.toInt, sd, pl))
      .persist(StorageLevel.MEMORY_ONLY)
    input.foreachPartition((_: Iterator[WebPage]) => ())
  }

  /** The kernel, deep-list pages above all, keeps speeding up for tens of
    * seconds of full load on a cold JVM. */
  val warmPasses = 3

  def rep(t: Tracer): Rep = {
    val s = t.noop("kg.KgPipeline.triplesFromPages")(KgPipeline.triplesFromPages(input).toDF())
    Rep(s, s, 0.0)
  }

  def check(t: Tracer, notes: mutable.Buffer[String]): Long = {
    val ss = spark
    import ss.implicits._
    val (sd, pl) = (seed, planted)
    val got = tripleDigest(KgPipeline.triplesFromPages(input).toDF())
    val want = tripleDigest(spark.range(0, pages, 1, parts)
      .flatMap(i => Inputs.truth(i.toInt, sd, pl)).toDF())
    compareTriples(got, want, notes)
  }

  def layers(t: Tracer, reps: Seq[Rep]): Map[String, Double] =
    KernelLayers.measure(t, KernelLayers.sample(pages, seed, planted))

  override def close(): Unit = if (input != null) input.unpersist()
}

// ---------------------------------------------------------------- build + analyze

/** `KgPipeline.runCheckpointed` into a fresh directory per rep (dedup
  * shuffle, salted repartition, groupByKey(url), batched purpose relabel,
  * four parquet stage tables), then the analysis over the tables read back:
  * a fixed query mix and corpus-level alias components, each to noop. */
final class BuildAnalyze(cores: Int, docs: Int, work: java.nio.file.Path, aliasDiv: Int)
    extends Workload {
  private val alias = new AliasComponents(cores, aliasDiv)
  private val parts = cores * 4
  private var spark: SparkSession = _
  private var seed = 0L
  private var flows: DataFrame = _
  private var repNo = 0
  private var lastDir: String = _
  private var lastRun: String = _

  private val probeTypes = Seq("email address", "ip address", "phone number",
    "precise geolocation", "payment information", "date of birth", "usage information",
    "device identifier")
  private val probePairs = Seq("advertiser" -> "email address", "google" -> "ip address",
    "analytic provider" -> "usage information", "we" -> "email address",
    "service provider" -> "payment information")

  /** The query mix: (job name, query over the triples and closure tables). */
  private val queries: Seq[(String, (Dataset[Triple], DataFrame) => DataFrame)] = Seq(
    "kg.KgApi.whoCollectFromClosure" ->
      ((_, c) => KgApi.whoCollectFromClosure(c, "email address")),
    "kg.KgApi.validateCollectionFromClosure" ->
      ((_, c) => KgApi.validateCollectionFromClosure(c, probeTypes)),
    "kg.KgApi.validateSharingFromClosure" ->
      ((_, c) => KgApi.validateSharingFromClosure(c, probePairs)),
    "kg.KgApi.partyTuples" -> ((t, _) => KgApi.partyTuples(t)),
    "kg.KgApi.contradictions" -> ((t, _) => KgApi.contradictions(t)),
    "kg.KgApi.edgePurposes" -> ((t, _) => KgApi.edgePurposes(t)),
    "kg.FlowConsistency.classify" -> ((t, _) => FlowConsistency.classify(spark, flows, t.toDF())))

  def units: Long = docs
  def opsPerRep: Long = docs + queries.size + 1

  def setup(s: SparkSession, sd: Long): Unit = {
    spark = s
    seed = sd
    import s.implicits._
    flows = s.range(0, docs, 1, parts).flatMap(i => Inputs.flows(i.toInt, sd))
      .toDF("url", "domain", "datatype").persist(StorageLevel.MEMORY_ONLY)
    flows.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
    alias.setup(s, sd)
  }

  private def tables(dir: String): (Dataset[Triple], DataFrame) = {
    val ss = spark
    import ss.implicits._
    (spark.read.parquet(s"$dir/triples").as[Triple], spark.read.parquet(s"$dir/closure"))
  }

  val warmPasses = 1

  def rep(t: Tracer): Rep = {
    repNo += 1
    if (lastDir != null) Files.deleteTree(java.nio.file.Paths.get(lastDir))
    lastRun = s"rep$repNo"
    lastDir = work.resolve(lastRun).toString
    val build = t.job("kg.KgPipeline.runCheckpointed") {
      KgPipeline.runCheckpointed(spark, docs, lastDir, lastRun, seed)
    }
    val (tri, closure) = tables(lastDir)
    val query = queries.map { case (q, f) => t.noop(q)(f(tri, closure)) }.sum + alias.run(t)
    Rep(build + query, build, query)
  }

  /** Query rows seen by the check, for the traced run. */
  private val queryRows = mutable.LinkedHashMap[String, Long]()

  def check(t: Tracer, notes: mutable.Buffer[String]): Long = {
    val (tri, closure) = tables(lastDir)
    val ss = spark
    import ss.implicits._
    val sd = seed
    val ttri = spark.range(0, docs, 1, parts).flatMap(i => Inputs.truth(i.toInt, sd, Map.empty))
      .persist(StorageLevel.MEMORY_ONLY)
    val tclosure = KgApi.closureRows(ttri).persist(StorageLevel.MEMORY_ONLY)
    val pages = compareTriples(tripleDigest(tri.toDF()), tripleDigest(ttri.toDF()), notes)
    val d = resultDigests(queries.flatMap { case (q, f) =>
      Seq(s"got $q" -> f(tri, closure), s"want $q" -> f(ttri, tclosure))
    })
    val badQueries = queries.map(_._1).count { q =>
      val (g, w) = (d(s"got $q"), d(s"want $q"))
      queryRows(q) = g._1
      if (g != w) notes += s"$q digest $g != truth $w"
      g != w
    }
    tclosure.unpersist()
    ttri.unpersist()
    pages + badQueries + alias.check(notes)
  }

  def layers(t: Tracer, reps: Seq[Rep]): Map[String, Double] = {
    val ss = spark
    import ss.implicits._
    val m = mutable.LinkedHashMap[String, Double]()
    // stage tables of the last rep, from the engine's own lineage table
    new StageStore(spark, lastDir, lastRun).lineage().filter(col("runId") === lastRun)
      .groupBy("stage").agg(max("wallMs"), sum("rowsOut")).collect().foreach { r =>
        m(s"kg.StageStore.${r.getString(0)}.wall_ms") = r.getLong(1).toDouble
        m(s"kg.StageStore.${r.getString(0)}.rows") = r.getLong(2).toDouble
      }
    m("kg.StageStore.bytes_written") = Files.treeBytes(java.nio.file.Paths.get(lastDir)).toDouble
    // each pipeline function on its own input, timed to noop
    val sd = seed
    val pages = spark.range(0, docs, 1, parts).map(i => graft.gen.CorpusGen.genPage(i.toInt, sd).page)
      .persist(StorageLevel.MEMORY_ONLY)
    pages.foreachPartition((_: Iterator[WebPage]) => ())
    val segs = spark.read.parquet(s"$lastDir/segments").as[Segment]
    val raw = spark.read.parquet(s"$lastDir/triples_raw").as[Triple]
    val (tri, _) = tables(lastDir)
    m("kg.KgPipeline.dedupPages.ms") =
      1e3 * t.noop("kg.KgPipeline.dedupPages")(KgPipeline.dedupPages(pages).toDF())
    m("kg.KgPipeline.segments.ms") =
      1e3 * t.noop("kg.KgPipeline.segments")(KgPipeline.segments(pages).toDF())
    m("kg.KgPipeline.triples.ms") =
      1e3 * t.noop("kg.KgPipeline.triples")(KgPipeline.triples(segs, deferPurposes = true).toDF())
    m("kg.KgPipeline.relabelPurposes.ms") = 1e3 * t.noop("kg.KgPipeline.relabelPurposes") {
      KgPipeline.relabelPurposes(raw, graft.nlp.KeywordPurposeScorer).toDF()
    }
    m("kg.KgApi.closureRows.ms") = 1e3 * t.noop("kg.KgApi.closureRows")(KgApi.closureRows(tri))
    // queries of the traced reps
    queries.map(_._1).foreach { q =>
      val js = t.jobs.filter(_.name == q)
      m(s"$q.ms") = 1e3 * median(js.map(_.seconds).toSeq)
      m(s"$q.plan_nodes") = js.headOption.map(_.planNodes.toDouble).getOrElse(0.0)
      m(s"$q.rows") = queryRows.getOrElse(q, 0L).toDouble
    }
    pages.unpersist()
    m("kg.KgPipeline.runCheckpointed.build_s") = median(reps.map(_.build))
    m("kg.KgApi.queries.query_s") = median(reps.map(_.query))
    m.toMap ++ alias.layers(t) ++ KernelLayers.measure(t, KernelLayers.sample(docs, seed, Map.empty))
  }

  override def close(): Unit = {
    alias.close()
    Files.deleteTree(work)
  }
}

// ---------------------------------------------------------------- alias CC

/** The analysis step that resolves entity aliases across the corpus:
  * `AliasResolution.connectedComponents(edges).orderBy("vertex")` → noop
  * over the alias-components graph shape at `1/div` scale, with seeded
  * vertex names.
  * Joins, shuffles, localCheckpoint and the driver union-find do all the
  * work; the kernel does none. */
final class AliasComponents(cores: Int, div: Int) {
  private var spark: SparkSession = _
  private var graph: Inputs.AliasGraph = _
  private var edges: DataFrame = _
  private var labels: DataFrame = _

  def setup(s: SparkSession, seed: Long): Unit = {
    spark = s
    graph = Inputs.AliasGraph(div, seed)
    import s.implicits._
    val g = graph
    edges = s.range(0, g.edges, 1, cores * 4).map { e =>
      val (src, dst) = g.edge(e)
      (g.name(src), g.name(dst))
    }.toDF("src", "dst").persist(StorageLevel.MEMORY_ONLY)
    edges.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
  }

  /** Components, then the sorted labels to noop, as one job; seconds. */
  def run(t: Tracer): Double = t.job("alias_cc", needsSort = true) {
    val l = t.span("kg.AliasResolution.connectedComponents") {
      AliasResolution.connectedComponents(edges)
    }
    t.span("kg.AliasResolution.sort")(l.orderBy("vertex").write.format("noop").mode("overwrite").save())
    if (labels != null) labels.unpersist()
    labels = l
  }

  /** Every label of the last run must be the minimum vertex name of its
    * component, known by construction; 1 failed labelling if not. */
  def check(notes: mutable.Buffer[String]): Long = {
    val ss = spark
    import ss.implicits._
    val g = graph
    val expected = spark.range(0, g.vertices, 1, cores * 4)
      .map(v => (g.name(v), g.name(g.component(v)))).toDF("vertex", "expected")
    val bad = labels.join(expected, Seq("vertex"), "full_outer")
      .filter(not(col("component") <=> col("expected"))).count()
    if (bad > 0) notes += s"$bad vertices labelled other than their component minimum"
    if (bad > 0) 1L else 0L
  }

  /** Rounds and first active-set size from the diagnostic variant, and the
    * traced runs' components and sort times. */
  def layers(t: Tracer): Map[String, Double] = {
    def spanMs(name: String) =
      median(t.spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).toSeq)
    val (cc, sort) = (spanMs("kg.AliasResolution.connectedComponents"),
      spanMs("kg.AliasResolution.sort"))
    val (l, rounds, sizes) = AliasResolution.connectedComponentsDiag(edges)
    l.unpersist()
    Map(
      "kg.AliasResolution.rounds" -> rounds.toDouble,
      "kg.AliasResolution.first_active_vertices" -> sizes.headOption.getOrElse(0L).toDouble,
      "kg.AliasResolution.cc_ms" -> cc,
      "kg.AliasResolution.sort_ms" -> sort)
  }

  def close(): Unit = {
    Seq(edges, labels).filter(_ != null).foreach(_.unpersist())
    labels = null
  }
}

/** File-tree helpers for the per-rep stage-table directories. */
object Files {
  import java.nio.file.{Files => J, Path}
  import scala.jdk.CollectionConverters._
  def deleteTree(p: Path): Unit = if (J.exists(p)) {
    val all = J.walk(p).iterator().asScala.toVector.reverse
    all.foreach(J.delete)
  }
  def treeBytes(p: Path): Long = if (!J.exists(p)) 0L else
    J.walk(p).iterator().asScala.filter(J.isRegularFile(_))
      .filterNot(_.getFileName.toString.endsWith(".crc")).map(J.size).sum
}
