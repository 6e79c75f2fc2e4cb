package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.fixtures.CorpusGen
import graft.model.Term
import graft.store.TripleStore

/** Counts, metrics and the run record of one benchmark process. */
final class Outcome {
  var attempted = 0
  var failed = 0
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  val metrics: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  val info: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Run one checked operation. An exception or a failed check counts it as
   * failed; only a passing operation returns its value. */
  def attempt[T](what: String)(op: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    val r = try Right(op) catch { case e: Throwable => Left(s"$what: ${e.getClass.getName}: ${e.getMessage}") }
    r.flatMap(v => check(v).toLeft(v)) match {
      case Right(v) => Some(v)
      case Left(msg) =>
        failed += 1
        if (failures.size < 20) failures += msg.take(2000)
        None
    }
  }
}

/**
 * The benchmark process: one workload, one seed, one SparkSession at
 * local[nproc]. See README.md in this directory for the workloads and the
 * meaning of every metric.
 *
 * Usage: perfbench.Main --workload build|query --seed N --seconds S
 *        --trace 0|1 --work DIR --out DIR
 */
object Main {
  /** Corpus of the set-up snapshot (the one the query and update phases use). */
  val SetupRepos = 500
  /** Corpus of the `build` workload: 101,000 dictionary entities, above
   * the pipeline's 100,000-entity switch to the salted link join. */
  val BuildRepos = 10100
  /** Repos sampled for the build's precision/recall gate. */
  val SampleRepos = 40

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val out = Paths.get(a("out")).toAbsolutePath
    require(Set("build", "query")(workload), s"unknown workload '$workload'")
    Files.createDirectories(work)
    Files.createDirectories(out)
    val nproc = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(trace)
    val env = new Env(spark, work, seed, tracer, sessionS)
    val o = new Outcome
    o.info ++= Seq("workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "nproc" -> nproc, "session_start_s" -> sessionS,
      "corpus" -> Map("files_per_repo" -> Phases.FilesPerRepo, "setup_repos" -> SetupRepos,
        "build_repos" -> BuildRepos,
        "build_entities" -> CorpusGen.nEntities(BuildRepos, Phases.FilesPerRepo),
        "setup_entities" -> CorpusGen.nEntities(SetupRepos, Phases.FilesPerRepo)))
    try {
      if (trace) Traced.run(env, workload, seconds, o)
      else workload match {
        case "build" => Workloads.build(env, o)
        case "query" => Workloads.query(env, seconds, o)
      }
    } catch {
      case e: Throwable =>
        o.attempted = math.max(o.attempted, 1)
        o.failed += 1
        o.failures += s"run aborted: ${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    }
    o.info("spark_conf") = spark.conf.getAll.toSeq.sortBy(_._1).toMap
    o.info("run_wall_s") = (System.nanoTime() - t0) / 1e9
    if (trace) tracer.writeJsonl(out.resolve("spans.jsonl"))
    spark.stop()

    val correct = o.failed == 0 && o.attempted > 0
    val metrics = o.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val result = mutable.LinkedHashMap[String, Any]("correct" -> correct,
      "attempted" -> o.attempted, "failed" -> o.failed, "metrics" -> metrics)
    val record = o.info ++ result
    record("failures") = o.failures.toList
    Files.writeString(out.resolve("record.json"), Json.write(record) + "\n")
    o.failures.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    println(Json.write(result))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}

/** Set-up and the untraced workloads. */
object Workloads {
  import Main._

  /** The committed manifest must record the count the call returned. */
  def manifestCheck(snapshot: String, triples: Long): Option[String] = {
    val m = TripleStore.readManifest(Paths.get(snapshot, "manifest.json"))
    if (m.get("n_triples").contains(triples.toString)) None
    else Some(s"manifest n_triples ${m.get("n_triples")} != returned $triples at $snapshot")
  }

  def manifestCheck(b: Built): Option[String] = manifestCheck(b.snapshot, b.triples)

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally st.close()
    }
  }

  /** Build the set-up snapshot with `runFused`, the first build of the
   * process. setup_s is the SparkSession start plus this build. */
  def setup(env: Env, o: Outcome): Built = {
    val b = o.attempt("setup build")(Phases.buildFused(env, SetupRepos))(manifestCheck)
      .getOrElse(sys.error("set-up build failed"))
    o.metric("setup_s", env.sessionS + b.wallMs / 1000, "s")
    o.info("setup_build_s") = b.wallMs / 1000
    b
  }

  def oracleFor(env: Env, nRepos: Int): Oracle =
    new Oracle(CorpusGen.goldenTriples(CorpusGen.generate(env.seed, nRepos, Phases.FilesPerRepo)))

  /**
   * Precision/recall of a built snapshot against `CorpusGen.goldenTriples`
   * on a seeded sample of repos: every triple whose subject is a sampled
   * repo or one of its files, plus every owl:sameAs triple (which checks
   * canonicalization over the whole corpus). Returns (precision, recall).
   */
  def samplePR(env: Env, b: Built, nRepos: Int): (Double, Double) = {
    import CorpusGen._
    val fpr = Phases.FilesPerRepo
    val sample = new Random(env.seed * 31 + 7).shuffle((0 until nRepos).toList).take(SampleRepos)
      .map(r => repoRows(env.seed, r, nRepos, fpr))
    val rows = sample.flatten
    val sampled = rows.map(_.repo).toSet
    // the other repos contribute only their sameAs lines
    val edgeRows = generate(env.seed, nRepos, fpr).filterNot(r => sampled(r.repo)).flatMap { r =>
      val lines = r.content.linesIterator.filter(_.startsWith("sameas ")).mkString("\n")
      if (lines.isEmpty) None else Some(r.copy(content = lines))
    }
    val subjects = sampled.map(repoIri) ++ rows.map(r => fileIri(r.repo, r.path, r.commit))
    val golden = goldenTriples(rows ++ edgeRows)
    val expected = golden.filter { t =>
      val (s, p, _) = Oracle.splitNt(t)
      subjects(s.drop(1).dropRight(1)) || p == Oracle.iri(OWL_SAMEAS)
    }
    def nt(r: org.apache.spark.sql.Row, i: Int): String =
      Term(r.getByte(i), r.getString(i + 1), r.getString(i + 2), r.getString(i + 3)).toNTriples
    val cols = Seq("s", "p", "o").flatMap(t => Seq("kind", "lex", "dt", "lang").map(f => col(s"${t}_$f")))
    // subjects from the SPO layout, sameAs from the predicate-sorted POS
    val actual = env.spark.read.parquet(s"${b.snapshot}/spo")
      .where(col("s_lex").isin(subjects.toSeq: _*)).select(cols: _*)
      .union(env.spark.read.parquet(s"${b.snapshot}/pos")
        .where(col("p_lex") === OWL_SAMEAS).select(cols: _*))
      .collect().map(r => s"${nt(r, 0)} ${nt(r, 4)} ${nt(r, 8)} .").toSet
    val hit = (actual & expected).size.toDouble
    (hit / math.max(1, actual.size), hit / math.max(1, expected.size))
  }

  def buildCheck(env: Env, nRepos: Int)(b: Built): Option[String] =
    manifestCheck(b).orElse {
      val (p, r) = samplePR(env, b, nRepos)
      if (p == 1.0 && r == 1.0) None else Some(f"build P/R on sample: precision $p%.6f recall $r%.6f")
    }

  def queryCheck(run: QueryRun): Option[String] =
    if (Phases.matches(run)) None
    else Some(s"${run.probe.template}: ${run.rows.size} rows, expected " +
      s"${run.probe.expected.size}; query:\n${run.probe.text}\n" +
      s"got ${run.rows.take(5)} expected ${run.probe.expected.take(5)}")

  /** The end-to-end metrics every workload reports. `ops` are (kind, wall
   * ms) of the workload's operations; a kind is a query template, or the one
   * operation of `build`. op_geomean_ms is the geometric mean
   * over kinds of each kind's median: unlike the median of a mix of kinds
   * that differ tenfold, it does not jump when two kinds swap places, and
   * every kind moves it. There is no tail metric: a run times too few
   * operations for any percentile above the median to have ten samples
   * beyond it, so the record keeps only the slowest one. */
  def finish(o: Outcome, ops: Seq[(String, Double)], snapshotMb: Double): Unit = {
    require(ops.nonEmpty, "no operation passed")
    val ms = ops.map(_._2)
    val perKind = ops.groupMap(_._1)(_._2).view.mapValues(median).toMap
    o.metric("op_geomean_ms", math.exp(perKind.values.map(math.log).sum / perKind.size), "ms")
    o.metric("snapshot_mb", snapshotMb, "MB")
    o.info ++= Seq("op_samples" -> ms.size, "op_p50_ms" -> median(ms), "op_max_ms" -> ms.max,
      "op_kind_p50_ms" -> perKind, "op_kind_ms" -> ops.groupMap(_._1)(_._2))
  }

  /** `build`: one Pipeline.runFused call on the large corpus. The set-up
   * build before it takes the JVM's one-off compilation off the timed build
   * (on 4 vCPUs, ten seeds: 36–69 s cold, 25–35 s warm). */
  def build(env: Env, o: Outcome): Unit = {
    deleteTree(setup(env, o).dir)
    val built = o.attempt("build")(Phases.buildFused(env, BuildRepos))(buildCheck(env, BuildRepos))
    built.foreach { b =>
      o.info ++= Seq("build_triples" -> b.triples,
        "build_triples_per_s" -> b.triples / (b.wallMs / 1000))
      finish(o, Seq("runFused" -> b.wallMs), Phases.sizeMb(b.snapshot))
    }
  }

  /** Timed rounds of the `query` workload: one per 10 s of `--seconds`. The
   * count is fixed before the run starts, so a faster or slower machine
   * changes the latencies, never which queries are timed. */
  def queryRounds(seconds: Double): Int = math.max(1, math.round(seconds / 10).toInt)

  /** One untraced, checked run of each template, off the clock: a template's
   * first query in the process pays the JVM's and Spark's one-off
   * compilation of its code paths, which would otherwise dominate a timed
   * round. Returns the texts it ran. */
  def warmUp(env: Env, o: Outcome, oracle: Oracle, snapshot: String, rng: Random): Seq[String] =
    Oracle.Templates.indices.map { i =>
      val probe = oracle.draw(i, rng)
      o.attempt(probe.template)(Phases.query(env, snapshot, probe, traced = false))(queryCheck)
      probe.text
    }

  /** `query`: a closed loop, one client, seeded SPARQL texts against the
   * set-up snapshot: a warm-up round, then `queryRounds` timed rounds of the
   * template mix. Every timed query is the first run of its text, unless the
   * draw repeats a text exactly. */
  def query(env: Env, seconds: Double, o: Outcome): Unit = {
    val base = setup(env, o)
    val oracle = oracleFor(env, SetupRepos)
    val rng = new Random(env.seed)
    val seen = mutable.HashSet(warmUp(env, o, oracle, base.snapshot, rng): _*)
    val n = queryRounds(seconds) * Oracle.Templates.size
    var repeats = 0
    val runs = (0 until n).flatMap { i =>
      val probe = oracle.draw(i, rng)
      if (!seen.add(probe.text)) repeats += 1
      o.attempt(probe.template)(Phases.query(env, base.snapshot, probe, traced = false))(
        queryCheck)
    }
    o.info("op_repeat_share") = repeats.toDouble / n
    finish(o, runs.map(r => r.probe.template -> r.wallMs), Phases.sizeMb(base.snapshot))
  }
}
