package kgbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import graft.gen.CorpusGen
import graft.kg.Model.{Triple, WebPage}

/** Seeded workload inputs with their truth known by construction. The same
  * seed always gives the same rows; the engine only ever sees the rows. */
object Inputs {

  // ------------------------------------------------------------ pages

  /** A common CMS defect: list items that are never closed, each nesting the
    * next. Per-page kernel work grows super-linearly with the depth. */
  val PlantedItem = "<ul><li>We collect your email address"

  /** Depths of the planted lists, one page each: a fixed set, so every seed
    * plants the same amount of work. A single page at depth 150 costs ~1.3 s
    * but varies ±20% from run to run by itself, so it would set a wall time
    * no bound could hold; sixteen pages up to depth 95 keep the super-linear
    * cost and the late straggler, and average their noise out. */
  val PlantedDepths: Vector[Int] = (20 to 95 by 5).toVector

  /** The one triple a planted page states, whatever its depth. */
  val PlantedTriple: (String, String, String) = ("we", "COLLECT", "email address")

  /** Page index → list depth for the planted pages of an `n`-page input cut
    * into `parts` equal partitions: the j-th depth goes to the j-th of the
    * last partitions, so the tasks that carry them are the same for every
    * seed; the seed picks each page's place inside its partition. */
  def plantPlan(n: Int, parts: Int, seed: Long, depths: Vector[Int]): Map[Int, Int] = {
    val rng = new CorpusGen.Rng(seed * 0x5851f42d4c957f2dL + 0x14057b7ef767814fL)
    val per = n / parts
    depths.zipWithIndex.map { case (d, j) =>
      val part = math.floorMod(parts - depths.size + j, parts)
      (part * per + rng.nextInt(per)) -> d
    }.toMap
  }

  def plantedUrl(i: Int): String = f"https://longlist-$i%05d.example/privacy"

  def page(i: Int, seed: Long, planted: Map[Int, Int]): WebPage = planted.get(i) match {
    case Some(depth) =>
      WebPage(plantedUrl(i), new Timestamp(1700000000000L),
        (PlantedItem * depth).getBytes(UTF_8),
        ("We collect your email address " * depth).trim, "en")
    case None => CorpusGen.genPage(i, seed).page
  }

  /** The triples page `i` states, in the engine's output shape. Purpose
    * labels map to empty phrase lists: graph queries read only the labels. */
  def truth(i: Int, seed: Long, planted: Map[Int, Int]): Vector[Triple] =
    if (planted.contains(i)) {
      val (s, p, o) = PlantedTriple
      Vector(Triple(plantedUrl(i), s, "ACTOR", p, o, "DATA", Vector.empty, Map.empty))
    } else CorpusGen.genPage(i, seed).truth.map { t =>
      Triple(t.url, t.subj, t.subjType, t.pred, t.obj, t.objType, t.evidence,
        if (t.purpose.isEmpty) Map.empty
        else t.purpose.split(',').map(_ -> (Seq.empty: Seq[String])).toMap)
    }

  // ------------------------------------------------------------ flows

  private lazy val entityDomain: Map[String, String] =
    graft.kg.Ontology.domainEntity.groupBy(_._2).map { case (e, ds) => e -> ds.map(_._1).min }

  /** Observed data flows (app url, destination domain, datatype) for page
    * `i`: a disclosed third-party flow, a first-party flow, an unknown
    * tracker and an undisclosed flow, in turn. */
  def flows(i: Int, seed: Long): Seq[(String, String, String)] = {
    val gp = CorpusGen.genPage(i, seed)
    val url = gp.page.url
    val ts = gp.truth
    i % 4 match {
      case 0 => ts.collectFirst {
        case t if t.pred == "BE_SHARED" && entityDomain.contains(t.subj) =>
          (url, entityDomain(t.subj), t.obj)
      }.toSeq
      case 1 => ts.collectFirst {
        case t if t.pred == "COLLECT" && t.subj == "we" =>
          (url, f"www.example-$i%05d.com", t.obj)
      }.toSeq
      case 2 => Seq((url, "trackers-r-us.example", "email address"))
      case _ => Seq((url, "metrics.google.co.uk", "voiceprint"))
    }
  }

  // ------------------------------------------------------------ alias graph

  /** The alias-components graph shape: one giant star, one long chain and
    * many ten-vertex stars, scaled by `1/div`. Vertex ids are laid out
    * star → chain → small stars. Within a component, names keep the order
    * of the engine's `kg_alias_components` graph (star centres and the chain
    * head are the minimum); the seed permutes which name range each
    * component gets, so every seed does the same CC work on other names. */
  final case class AliasGraph(div: Int, seed: Long) {
    val starLeaves: Long = 300000L / div
    val chainLen: Long = 4096L / div
    val stars: Long = 70000L / div
    val starSize = 10L
    private val chain0 = starLeaves + 1
    private val stars0 = chain0 + chainLen
    val vertices: Long = stars0 + stars * starSize
    val edges: Long = starLeaves + (chainLen - 1) + stars * (starSize - 1)

    /** Edge `e` as (src id, dst id): leaf → centre for stars, i → i+1 on
      * the chain. */
    def edge(e: Long): (Long, Long) =
      if (e < starLeaves) (e + 1, 0L)
      else if (e < starLeaves + chainLen - 1) {
        val k = chain0 + (e - starLeaves)
        (k, k + 1)
      } else {
        val j = e - starLeaves - (chainLen - 1)
        val base = stars0 + (j / (starSize - 1)) * starSize
        (base + 1 + j % (starSize - 1), base)
      }

    /** (component index, first vertex id) of vertex `v`. */
    private def comp(v: Long): (Long, Long) =
      if (v < chain0) (0L, 0L)
      else if (v < stars0) (1L, chain0)
      else {
        val k = (v - stars0) / starSize
        (2L + k, stars0 + k * starSize)
      }

    /** The component's first vertex, which is its minimum name. */
    def component(v: Long): Long = comp(v)._2

    private val a = 1L + math.floorMod(new CorpusGen.Rng(seed).nextLong(), AliasGraph.Prime - 1)
    private val b = math.floorMod(new CorpusGen.Rng(~seed).nextLong(), AliasGraph.Prime)

    /** Seeded bijection on component indices: an affine map modulo a prime,
      * walked until it lands inside the range. */
    private def slot(k: Long): Long = {
      var x = (a * k + b) % AliasGraph.Prime
      while (x >= AliasGraph.Components) x = (a * x + b) % AliasGraph.Prime
      x
    }

    /** "v" + 5-digit slot + "-" + 6-digit rank inside the component. */
    def name(v: Long): String = {
      val (k, first) = comp(v)
      val b = new java.lang.StringBuilder(13).append('v')
      pad(b, slot(k), 5).append('-')
      pad(b, v - first, 6).toString
    }
    private def pad(b: java.lang.StringBuilder, x: Long, width: Int): java.lang.StringBuilder = {
      val s = x.toString
      var i = s.length
      while (i < width) { b.append('0'); i += 1 }
      b.append(s)
    }
  }

  object AliasGraph {
    /** Component count of the full-size graph: giant star, chain, stars. */
    val Components: Long = 2L + 70000L
    /** Smallest prime above it. */
    val Prime: Long = 70003L
  }
}
