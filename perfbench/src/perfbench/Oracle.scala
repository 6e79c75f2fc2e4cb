package perfbench

import scala.collection.mutable

import graft.fixtures.CorpusGen
import graft.model.Term

/** A SPARQL text with the rows it must return, derived off the clock from
 * golden triples. `ordered` compares row sequences, otherwise multisets. */
final case class Probe(template: String, text: String, expected: Seq[Seq[String]],
                       vars: Seq[String], ordered: Boolean)

/**
 * Expected answers for the seven query templates, computed from
 * `CorpusGen.goldenTriples` by plain Scala collections — an evaluator that
 * shares no code with the parser, compiler or store under test.
 */
final class Oracle(golden: Set[String]) {
  import CorpusGen._
  import Oracle._

  private val triples: Seq[(String, String, String)] = golden.toSeq.map(splitNt)
  private val bySP: Map[(String, String), Seq[String]] =
    triples.groupMap(t => (t._1, t._2))(_._3)
  private val byS: Map[String, Seq[(String, String)]] =
    triples.groupMap(_._1)(t => (t._2, t._3))
  private val byO: Map[String, Seq[(String, String)]] =
    triples.groupMap(_._3)(t => (t._1, t._2))

  private def objs(s: String, p: String): Seq[String] = bySP.getOrElse((s, p), Nil)

  val repos: IndexedSeq[String] =
    triples.collect { case (s, p, _) if p == iri(P_HASFILE) => s }.distinct.sorted.toIndexedSeq
  val entities: IndexedSeq[String] =
    triples.collect { case (_, p, o) if p == iri(P_IMPORTS) => o }.distinct.sorted.toIndexedSeq
  // canonical entities (multiples of 3) other than the hot E000000
  private val canonEntities: IndexedSeq[String] =
    entities.filter(e => e.takeRight(7).take(6).toInt % 3 == 0).filterNot(_.contains("E000000"))
  private val files: IndexedSeq[String] =
    triples.collect { case (_, p, o) if p == iri(P_HASFILE) => o }.distinct.sorted.toIndexedSeq

  /** (file, lang) rows of one repo — the point template's answer. */
  def filesOf(repo: String): Seq[(String, String)] =
    objs(repo, iri(P_HASFILE)).flatMap(f => objs(f, iri(P_INLANG)).map(l => (f, l)))

  def point(repo: String): Probe = Probe("point",
    s"""$Prefixes
       |SELECT ?f ?lang WHERE { $repo code:hasFile ?f . ?f code:inLang ?lang }""".stripMargin,
    filesOf(repo).map { case (f, l) => Seq(f, l) }, Seq("f", "lang"), ordered = false)

  def star(lang: String, license: String, threshold: Int): Probe = {
    val exp = for {
      (f, ps) <- byS.toSeq
      if ps.contains((iri(P_INLANG), lit(lang))) && ps.contains((iri(P_LICENSE), lit(license)))
      (p, n) <- ps if p == iri(P_SIZE) && intOf(n) > threshold
    } yield Seq(f, n)
    Probe("star",
      s"""$Prefixes
         |SELECT ?f ?n WHERE {
         |  ?f code:inLang "$lang" ; code:license "$license" ; code:size ?n .
         |  FILTER(?n > $threshold)
         |}""".stripMargin, exp, Seq("f", "n"), ordered = false)
  }

  def topK(lang: String, k: Int): Probe = {
    val counts = triples.collect {
      case (f, p, e) if p == iri(P_IMPORTS) && objs(f, iri(P_INLANG)).contains(lit(lang)) => e
    }.groupBy(identity).view.mapValues(_.size).toSeq
    val exp = counts.sortBy { case (e, c) => (-c, e.stripPrefix("<").stripSuffix(">")) }
      .take(k).map { case (e, c) => Seq(e, intLit(c)) }
    Probe("topk",
      s"""$Prefixes
         |SELECT ?e (COUNT(?f) AS ?c) WHERE { ?f code:inLang "$lang" ; code:imports ?e }
         |GROUP BY ?e ORDER BY DESC(?c) ?e LIMIT $k""".stripMargin,
      exp, Seq("e", "c"), ordered = true)
  }

  def optional(repo: String): Probe = {
    val exp = objs(repo, iri(P_HASFILE)).flatMap { f =>
      val ds = objs(f, iri(P_DEFINES)).filter(_.stripSuffix(">").endsWith("_0"))
      if (ds.isEmpty) Seq(Seq(f, Unbound)) else ds.map(d => Seq(f, d))
    }
    Probe("optional",
      s"""$Prefixes
         |SELECT ?f ?d WHERE {
         |  $repo code:hasFile ?f .
         |  OPTIONAL { ?f code:defines ?d . FILTER(STRENDS(STR(?d), "_0")) }
         |}""".stripMargin, exp, Seq("f", "d"), ordered = false)
  }

  def notExists(repo: String, license: String): Probe = {
    val exp = objs(repo, iri(P_HASFILE))
      .filterNot(f => objs(f, iri(P_LICENSE)).contains(lit(license))).map(Seq(_))
    Probe("notexists",
      s"""$Prefixes
         |SELECT ?f WHERE {
         |  $repo code:hasFile ?f .
         |  FILTER NOT EXISTS { ?f code:license "$license" }
         |}""".stripMargin, exp, Seq("f"), ordered = false)
  }

  def reverse(entity: String): Probe = Probe("reverse",
    s"""$Prefixes
       |SELECT ?f ?p WHERE { ?f ?p $entity }""".stripMargin,
    byO.getOrElse(entity, Nil).map { case (s, p) => Seq(s, p) }, Seq("f", "p"),
    ordered = false)

  def path(file: String): Probe = {
    // zero-or-more over sameAs in both directions, after one imports hop
    val starts = objs(file, iri(P_IMPORTS))
    val exp = starts.flatMap { e0 =>
      val seen = mutable.LinkedHashSet(e0)
      var frontier = Seq(e0)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap { n =>
          objs(n, iri(OWL_SAMEAS)) ++
            byO.getOrElse(n, Nil).collect { case (s, p) if p == iri(OWL_SAMEAS) => s }
        }.filter(seen.add)
      }
      seen.toSeq
    }.map(Seq(_))
    Probe("path",
      s"""$Prefixes
         |SELECT ?e WHERE { $file code:imports/(owl:sameAs|^owl:sameAs)* ?e }""".stripMargin,
      exp, Seq("e"), ordered = false)
  }

  /** The fixed template mix, round robin. Constants come from `rng`; one
   * query in four draws from a two-value hot set, so some texts repeat
   * exactly and most do not. */
  def draw(i: Int, rng: scala.util.Random): Probe = {
    val hot = rng.nextInt(4) == 0
    def pick[T](xs: IndexedSeq[T]): T = xs(if (hot) rng.nextInt(2) else rng.nextInt(xs.size))
    val langs = IndexedSeq("java", "scala", "py", "ttl", "md")
    val licenses = IndexedSeq("MIT", "Apache-2.0", "GPL-3.0")
    Templates(i % Templates.size) match {
      case "point" => point(pick(repos))
      case "star" => star(pick(langs), pick(licenses), if (hot) 8900 else 8000 + rng.nextInt(1000))
      case "topk" => topK(pick(langs), if (hot) 10 else 5 + rng.nextInt(16))
      case "optional" => optional(pick(repos))
      case "notexists" => notExists(pick(repos), pick(licenses))
      case "reverse" => reverse(pick(canonEntities))
      case "path" => path(pick(files))
    }
  }
}

object Oracle {
  val Templates: IndexedSeq[String] =
    IndexedSeq("point", "star", "topk", "optional", "notexists", "reverse", "path")

  val Unbound = "UNDEF"

  val Prefixes: String =
    s"""PREFIX code: <${CorpusGen.CODE}>
       |PREFIX owl: <http://www.w3.org/2002/07/owl#>""".stripMargin

  def iri(s: String): String = "<" + s + ">"
  def lit(s: String): String = Term.string(s).toNTriples
  def intLit(n: Int): String = Term.lit(n.toString, Term.XSD_INTEGER).toNTriples
  def intOf(nt: String): Int = nt.drop(1).takeWhile(_ != '"').toInt

  /** Split one golden N-Triples line. Subjects and predicates never hold a
   * space in the generated corpus; the object is the rest of the line. */
  def splitNt(line: String): (String, String, String) = {
    val a = line.indexOf(' ')
    val b = line.indexOf(' ', a + 1)
    (line.substring(0, a), line.substring(a + 1, b), line.substring(b + 1, line.length - 2))
  }

  /** N-Triples form of one result cell (a term struct, or null if unbound). */
  def cell(v: Any): String = v match {
    case null => Unbound
    case r: org.apache.spark.sql.Row =>
      Term(r.getAs[Byte]("kind"), r.getAs[String]("lex"), r.getAs[String]("dt"),
        r.getAs[String]("lang")).toNTriples
    case other => String.valueOf(other)
  }
}
