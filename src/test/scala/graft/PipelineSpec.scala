package graft

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.kg.{AliasResolution, KgPipeline, StageStore}

/** Spark-level pipeline tests: checkpoint/resume equivalence (north rule)
  * and lineage rows. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("resume from checkpoint produces identical triples (t3)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ckpt").toString
    val first = KgPipeline.runCheckpointed(spark, 20, dir, "run1")
      .select("url", "subj", "pred", "obj").collect().map(_.toString).sorted
    // second run must read the stage tables, not recompute
    val second = KgPipeline.runCheckpointed(spark, 20, dir, "run2")
      .select("url", "subj", "pred", "obj").collect().map(_.toString).sorted
    assert(first.nonEmpty)
    assert(first.sameElements(second))
    // lineage: one row per (run, stage, write partition); per stage the rows
    // sum to the stage table's size; the resumed run wrote no stage, so it
    // appended no lineage row
    val lineage = new StageStore(spark, dir, "x").lineage()
      .select("runId", "stage", "partitionId", "rowsOut").as[(String, String, Int, Long)]
      .collect().toSeq
    assert(lineage.map(_._1).toSet == Set("run1"))
    assert(lineage.map(r => (r._1, r._2, r._3)).distinct.size == lineage.size)
    val stages = Seq("segments", "triples_raw", "triples", "closure")
    assert(lineage.groupMapReduce(_._2)(_._4)(_ + _) ==
      stages.map(st => st -> spark.read.parquet(s"$dir/$st").count()).toMap)
    // the closure stage table answers who_collect as a pure filter,
    // identically to recomputing reachability from the triples
    val fromStage = graft.kg.KgApi.whoCollectFromClosure(
        spark.read.parquet(s"$dir/closure"), "email address")
      .collect().map(_.toString).sorted
    val recomputed = graft.kg.KgApi.whoCollect(
        spark.read.parquet(s"$dir/triples").as[graft.kg.Model.Triple](
          org.apache.spark.sql.Encoders.product[graft.kg.Model.Triple]),
        "email address")
      .collect().map(_.toString).sorted
    assert(fromStage.nonEmpty && fromStage.sameElements(recomputed))
  }

  test("pred-partitioned stage table prunes partitions on pred filters") {
    val dir = Files.createTempDirectory("graft-ckpt3").toString
    KgPipeline.runCheckpointed(spark, 20, dir, "run1").count()
    val scan = spark.read.parquet(s"$dir/triples").filter(col("pred") === "COLLECT")
    val formatted = scan.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the filter must land in PartitionFilters (directory pruning), not in
    // the data filters — at 10^12 rows this is the analysis queries' I/O win
    assert(formatted.contains("PartitionFilters: [isnotnull(pred"),
      s"pred filter not pruning partitions:\n$formatted")
    assert(scan.count() > 0)
  }

  test("fresh pipeline equals checkpointed pipeline (batched == inline purposes)") {
    // the checkpointed path labels purposes via the corpus-level batched
    // scorer; the fresh path labels inline per document — full-row equality
    // (incl. the purpose maps) pins batched == inline
    def rows(ds: org.apache.spark.sql.Dataset[graft.kg.Model.Triple]) =
      ds.collect().map(t => (t.url, t.subj, t.pred, t.obj, t.text,
        t.purposes.toSeq.map { case (k, v) => (k, v.toVector) }.sortBy(_._1)))
        .sortBy(_.toString)
    val dir = Files.createTempDirectory("graft-ckpt2").toString
    val fresh = rows(KgPipeline.run(spark, 20))
    val ckpt = rows(KgPipeline.runCheckpointed(spark, 20, dir, "run1"))
    assert(fresh.nonEmpty)
    assert(fresh.sameElements(ckpt))
    assert(fresh.exists(_._6.nonEmpty), "no purposes exercised by the corpus")
  }

  test("salted repartition spreads a hot key across partitions") {
    import spark.implicits._
    // 400 rows with the SAME url — the degenerate hot key
    val hot = KgPipeline.pages(spark, 400)
      .map(p => p.copy(url = "https://hot.example/privacy"))
    val unsalted = KgPipeline.saltedRepartition(hot, 8)
      .mapPartitions(it => Iterator.single(it.size)).filter(_ > 0).count()
    val salted = KgPipeline.saltedRepartition(hot, 8, saltBuckets = 8)
      .mapPartitions(it => Iterator.single(it.size)).filter(_ > 0).count()
    assert(unsalted == 1L, s"hot key should collapse to one partition unsalted, got $unsalted")
    assert(salted >= 4L, s"salting should spread the hot key, got $salted partitions")
    // row count is preserved either way
    assert(KgPipeline.saltedRepartition(hot, 8, saltBuckets = 8).count() == 400)
  }

  test("jump passes stay logarithmic in the component diameter") {
    // 1024-node chain: hooking alone needs ~1024 rounds; with pointer
    // jumping the reach doubles per pass → ≤ log2(1023) + 2 = 12 passes
    val chain = spark.range(0, 1023)
      .select(format_string("c%04d", col("id")).as("src"),
        format_string("c%04d", col("id") + 1).as("dst"))
    // a 0-byte gate disables the driver union-find so the distributed
    // hook/jump path is what's measured
    val (labels, rounds, _) = AliasResolution.connectedComponentsDiag(chain, localFinishBytes = 0L)
    assert(labels.select("component").distinct().count() == 1)
    assert(rounds <= 12, s"rounds=$rounds for diameter 1023")
  }

  /** 10k-spoke star + 64-node chain (10,065 vertices). */
  private def starAndChain = {
    val star = spark.range(1, 10001)
      .select(format_string("g%05d", col("id")).as("src"), lit("g00000").as("dst"))
    val chain = spark.range(0, 63)
      .select(format_string("h%05d", col("id")).as("src"),
        format_string("h%05d", col("id") + 1).as("dst"))
    star.union(chain)
  }

  /** An n-vertex path visiting v00000 … v{n-1} in a seeded random order. */
  private def shuffledChain(n: Int) = {
    import spark.implicits._
    new scala.util.Random(7).shuffle((0 until n).map(i => f"v$i%05d")).sliding(2)
      .map(p => (p(0), p(1))).toSeq.toDF("src", "dst")
  }

  private def labelMap(labels: DataFrame) =
    labels.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("quotients shrink monotonically; stars collapse in round 0") {
    // the star must leave the graph at the first contraction, so the later
    // rounds only ever shuffle the chain core
    val (labels, _, sizes) =
      AliasResolution.connectedComponentsDiag(starAndChain, localFinishBytes = 0L)
    assert(sizes.nonEmpty)
    assert(sizes.head < 200,
      s"star vertices must leave at the seed contraction; quotient size ${sizes.head}")
    assert(sizes == sizes.sorted.reverse, s"quotient grew: $sizes")
    // labels that left early still resolve to the true component minima
    val comps = labelMap(labels)
    assert(comps.size == 10065)
    assert(comps("g09999") == "g00000" && comps("g00000") == "g00000")
    assert(comps("h00063") == "h00000" && comps("h00031") == "h00000")
  }

  test("in-loop local finish gives the distributed path's labels") {
    // a shuffled chain keeps a quotient round after round; under a 24 KB
    // gate a later quotient is collected and the driver union-find ends
    // the loop early. The wall-time bound catches per-jump size estimates
    // that compound across checkpoints, which stall planning for minutes.
    val chain = shuffledChain(3000)
    def run(bound: Long) = {
      val (labels, rounds, sizes) =
        AliasResolution.connectedComponentsDiag(chain, localFinishBytes = bound)
      (labelMap(labels), rounds, sizes)
    }
    val (distributed, distRounds, _) = Await.result(Future(run(0L)), 90.seconds)
    val (finished, rounds, sizes) = run(24L << 10)
    assert(sizes.size >= 2, s"no in-loop contraction: $sizes")
    assert(sizes == sizes.sorted.reverse, s"quotient grew: $sizes")
    assert(rounds < distRounds,
      s"local finish did not end the loop: $rounds jump passes vs $distRounds distributed")
    assert(finished == distributed)
    assert(distributed.size == 3000 && distributed.values.toSet == Set("v00000"))
  }

  test("the driver collect is gated on bytes, not edges") {
    import spark.implicits._
    // a 40-edge sorted chain: its seed quotient has 39 edges, which any
    // row bound collects; with 4 KB names they estimate ~320 KB, so a 64 KB
    // gate sends them through a distributed round, while short names fit
    def chain(pad: Int) = (0 until 40)
      .map(i => (f"n$i%02d" + "x" * pad, f"n${i + 1}%02d" + "x" * pad)).toDF("src", "dst")
    val gate = 64L << 10
    val (long, longRounds, longSizes) =
      AliasResolution.connectedComponentsDiag(chain(4096), localFinishBytes = gate)
    assert(longRounds > 0 && longSizes == Seq(40L, 0L), s"$longRounds jumps, sizes $longSizes")
    val comps = labelMap(long)
    assert(comps.size == 41 && comps.values.toSet == Set("n00" + "x" * 4096))
    val (short, shortRounds, shortSizes) =
      AliasResolution.connectedComponentsDiag(chain(0), localFinishBytes = gate)
    assert(shortRounds == 0 && shortSizes == Seq(40L), s"$shortRounds jumps, sizes $shortSizes")
    assert(labelMap(short).values.toSet == Set("n00"))
  }

  test("a gate-0 alias run leaves only its output persisted") {
    // Dataset.unpersist frees nothing behind a localCheckpoint, so the
    // intermediate checkpoints must be released through their RDDs
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val (labels, rounds, _) =
      AliasResolution.connectedComponentsDiag(starAndChain, localFinishBytes = 0L)
    assert(rounds > 0 && labels.count() == 10065)
    val grown = sc.getPersistentRDDs.size - before
    assert(grown <= 1, s"$grown RDDs stay persisted")
  }

  test("alias labels do not depend on shuffle partitions or AQE") {
    def labelsUnder(edges: DataFrame, bound: Long) =
      for (parts <- Seq("1", "200"); aqe <- Seq("true", "false")) yield {
        val conf = spark.conf
        val saved = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
          .map(k => k -> conf.get(k))
        conf.set("spark.sql.shuffle.partitions", parts)
        conf.set("spark.sql.adaptive.enabled", aqe)
        try labelMap(AliasResolution.connectedComponentsDiag(edges, localFinishBytes = bound)._1)
        finally saved.foreach { case (k, v) => conf.set(k, v) }
      }
    for ((edges, bound, vertices) <- Seq((shuffledChain(24), 0L, 24),
        (starAndChain, AliasResolution.LocalFinishBytes, 10065))) {
      val runs = labelsUnder(edges, bound)
      assert(runs.head.size == vertices)
      assert(runs.distinct.size == 1, s"labels differ across ${runs.size} settings")
    }
  }

  test("alias components merge aliases of the same entity") {
    import spark.implicits._
    val edges = Seq(
      ("google llc", "entity:google"), ("youtube", "entity:google"),
      ("meta", "entity:facebook"), ("instagram", "entity:facebook"))
      .toDF("src", "dst")
    val comps = AliasResolution.connectedComponents(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comps("youtube") == comps("google llc"))
    assert(comps("meta") == comps("instagram"))
    assert(comps("meta") != comps("youtube"))
  }

  test("structured streaming: incremental KG extraction over arriving pages") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-pages").toString
    val pages = KgPipeline.pages(spark, 15)
    pages.write.mode("overwrite").parquet(dir)
    val batchTriples = KgPipeline.triplesFromPages(pages).count()
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .parquet(dir)
      .as[graft.kg.Model.WebPage]
    val q = KgPipeline.triplesFromPages(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("kg_stream").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM kg_stream").collect()(0).getLong(0) == batchTriples)
    } finally q.stop()
  }

  test("salted repartition spreads pages evenly") {
    import spark.implicits._
    val pages = KgPipeline.pages(spark, 400)
    val parts = KgPipeline.saltedRepartition(pages, 8)
      .mapPartitions(it => Iterator(it.size)).collect()
    assert(parts.length == 8)
    assert(parts.min > 20, s"skewed partitions: ${parts.toSeq}")
  }

  test("checksum dedup drops exact copies") {
    import spark.implicits._
    val ps = KgPipeline.pages(spark, 30)
    val dup = ps.map(p => p.copy(url = p.url + "#dup"))
    assert(KgPipeline.dedupPages(ps.union(dup)).count() == 30)
  }

  test("stateful streaming: per-user event counting via mapGroupsWithState") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft-stateful")
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
      .selectExpr("user_id", "event_id").as[(Long, Long)]
    val counted = stream.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[(Long, Long)], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + it.size
          state.update(n)
          (user, n)
      }
    val q = counted.toDF("user_id", "n").writeStream
      .outputMode(OutputMode.Update).format("memory").queryName("sessions").start()
    try {
      q.processAllAvailable()
      val total = spark.sql("SELECT sum(n) FROM sessions").collect()(0).getLong(0)
      val batch = spark.read.parquet(s"$sf/events.parquet").count()
      assert(total == batch)
    } finally q.stop()
  }

  test("structured streaming: windowed counts over the events table (§2.9 capability)") {
    val sf = "/root/testdata/sf0.001"
    // streaming file source needs a directory
    val dir = Files.createTempDirectory("graft-stream")
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
      .withColumn("ts", col("ts").cast("timestamp")) // parquet NTZ → event-time LTZ
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("ev_windows").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT sum(n) FROM ev_windows").collect()(0).getLong(0)
      val batch = spark.read.parquet(s"$sf/events.parquet").count()
      assert(streamed == batch)
    } finally q.stop()
  }

  test("semantic augmentation stage preserves kernel triples and adds only party collects") {
    import spark.implicits._
    // the open holdout batch 25 is the compound vocabulary × frame probe: the
    // scorer's candidate generator is dictionary-bounded there, so the
    // pinned contract is superset + nothing-spurious (every added triple,
    // if any, is a party COLLECT). The strict "adds recall" obligation
    // moves to the learned mention NER once it lands (retarget with each
    // batch closure).
    val pages = spark.createDataset(graft.kg.Holdout.pages25)
    val kernel = graft.kg.KgPipeline.triplesFromPages(pages).cache()
    val aug = graft.kg.KgPipeline.augmentWithScorer(pages, kernel)
    val kSet = kernel.collect().map(t => (t.url, t.subj, t.obj)).toSet
    val aSet = aug.collect().map(t => (t.url, t.subj, t.obj)).toSet
    assert(kSet.subsetOf(aSet), "augmentation must preserve kernel triples")
    aug.collect().filterNot(t => kSet.contains((t.url, t.subj, t.obj)))
      .foreach { t =>
        assert(t.pred == "COLLECT" && (t.subj == "we" || t.subj == "third party"), t.toString)
      }
  }

  test("augmentation operating point: score column + calibrated precision floor") {
    import spark.implicits._
    // the scored view carries the MLP margin as a column (the auditable
    // production artifact), and the whole augmented tuple set at the
    // calibrated ScorerThreshold holds the pinned precision floor against
    // the open batch 25's FROZEN labels (rows in COVERAGE.md: kernel ∪
    // scorer P 0.938 there; Calibrate picks t=0.4 at closed-batch
    // P 0.990 / R 0.974)
    val pages = spark.createDataset(graft.kg.Holdout.pages25)
    val scored = graft.kg.KgPipeline.scoredTuples(pages)
    assert(scored.columns.toSeq == Seq("url", "party", "datatype", "score"))
    val accepted = scored
      .filter(col("score") >= graft.kg.KgPipeline.ScorerThreshold)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .filter(graft.kg.Holdout.isRealTuple).toSet
    val union = graft.kg.Holdout.predicted25.toSet ++ accepted
    val want = graft.kg.Holdout.truth25.toSet
    val p = (union & want).size.toDouble / math.max(1, union.size)
    info(f"augmented-path precision on frozen b25 labels: $p%.3f")
    assert(p >= 0.85, s"calibrated precision floor: $p")
  }
}
