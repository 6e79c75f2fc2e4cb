package perfbench

import scala.util.Random

import graft.fixtures.CorpusGen
import graft.model.Term

/**
 * The traced run. Every workload runs all three phases — build, query,
 * update — so every traced run reports every per-layer metric. The
 * workload's own phase runs as in the untraced run, paired with untraced
 * twins, which gives `trace_overhead_pct`; the other two phases run briefly,
 * traced only:
 *
 *  - build: a cold build of the set-up corpus warms the JVM and gives the
 *    snapshot the brief phases use; then the large corpus is built once
 *    untraced and once traced, step by step. Elsewhere the set-up build is
 *    traced step by step (cold, like the untraced run's set-up);
 *  - query: on `query`, the untraced run's warm-up round, then
 *    `queryRounds` rounds in which every slot draws two texts, one run
 *    untraced and one traced, alternating which goes first. As in the
 *    untraced run, every timed query is the first run of its text. On
 *    `build`, one traced round without a warm-up, which keeps that run
 *    well inside its time limit: its query layers read cold queries;
 *  - update: one traced commit of a repo whose point query has just run on
 *    the parent snapshot, then that query on the new snapshot.
 */
object Traced {
  import Main._
  import Workloads._

  def run(env: Env, workload: String, seconds: Double, o: Outcome): Unit = {
    val spark = env.spark
    val tr = env.tracer
    def m(name: String, v: Double, unit: String): Unit = o.metric(name, v, unit)
    def mb(bytes: Double): Double = bytes / 1e6
    def jobs(s: Span) = tr.jobsIn(s)
    def must[T](what: String)(op: => T)(check: T => Option[String]): T =
      o.attempt(what)(op)(check).getOrElse(sys.error(s"$what failed"))
    def overhead(traced: Seq[Double], untraced: Seq[Double]): Unit =
      m("trace_overhead_pct", 100 * (traced.sum / untraced.sum - 1), "%")

    // ---- build phase
    val (base, triples, root, counts) =
      if (workload == "build") {
        val first = must("set-up build")(Phases.buildFused(env, SetupRepos))(manifestCheck)
        val untraced = must("build")(Phases.buildFused(env, BuildRepos))(manifestCheck)
        deleteTree(untraced.dir)
        val r = must("traced build")(tr.traced(spark)(Phases.buildTraced(env, BuildRepos)))(r =>
          buildCheck(env, BuildRepos)(r._1))
        deleteTree(r._1.dir)
        overhead(Seq(r._1.wallMs), Seq(untraced.wallMs))
        o.info ++= Seq("build_untraced_ms" -> untraced.wallMs, "build_traced_ms" -> r._1.wallMs)
        (first.snapshot, r._1.triples, r._2, r._3)
      } else {
        val (b, root, counts) = must("set-up build")(
          tr.traced(spark)(Phases.buildTraced(env, SetupRepos)))(r => manifestCheck(r._1))
        (b.snapshot, b.triples, root, counts)
      }
    val steps = tr.children(root).map(s => s.name -> s).toMap
    for (step <- Seq("fixtures", "extract", "link", "canon", "store")) {
      val s = steps(s"build.$step")
      m(s"build.$step.s", s.durMs / 1000, "s")
      m(s"build.$step.task_s", jobs(s).map(_.taskMs).sum / 1000.0, "s")
      if (step != "fixtures" && step != "extract")
        m(s"build.$step.shuffle_write_mb", mb(jobs(s).map(_.shuffleWriteBytes).sum), "MB")
    }
    m("build.store.spill_mb", mb(jobs(steps("build.store")).map(_.spillBytes).sum), "MB")
    m("build.extract.candidates", counts("candidates"), "count")
    m("build.link.hit_ratio", counts("linked_mentions") / counts("mentions"), "ratio")
    m("build.canon.edges", counts("edges"), "count")
    m("build.canon.jobs", jobs(steps("build.canon")).size, "count")
    m("build.store.dedup_ratio", triples / counts("rewritten"), "ratio")
    m("build.driver_only_s", tr.driverOnlyMs(root) / 1000, "s")
    m("build.jobs", jobs(root).size, "count")
    m("build.sched_delay_s", jobs(root).map(_.schedDelayMs).sum / 1000.0, "s")
    o.info ++= Seq("build_triples" -> triples, "build_counts" -> counts)

    // ---- query phase
    val oracle = oracleFor(env, SetupRepos)
    val rng = new Random(env.seed)
    def plain(p: Probe) =
      o.attempt(p.template)(Phases.query(env, base, p, traced = false))(queryCheck)
    def traced(p: Probe) =
      o.attempt(p.template)(tr.traced(spark)(Phases.query(env, base, p, traced = true)))(queryCheck)
    val round = Oracle.Templates.size
    val (tracedRuns, p50Runs) =
      if (workload == "query") {
        warmUp(env, o, oracle, base, rng)
        val pairs = (0 until queryRounds(seconds) * round).flatMap { i =>
          val (a, b) = (oracle.draw(i, rng), oracle.draw(i, rng))
          val (u, t) =
            if (i % 2 == 0) { val u = plain(a); (u, traced(b)) }
            else { val t = traced(a); (plain(b), t) }
          for (x <- u; y <- t) yield (x, y)
        }
        require(pairs.nonEmpty, "no query pair passed")
        overhead(pairs.map(_._2.wallMs), pairs.map(_._1.wallMs))
        o.info("query_pairs") = pairs.size
        (pairs.map(_._2), pairs.map(_._1))
      } else {
        val runs = (0 until round).flatMap(i => traced(oracle.draw(i, rng)))
        (runs, runs)
      }
    require(tracedRuns.nonEmpty, "no traced query passed")
    queryLayers(tracedRuns, o)
    for (t <- Oracle.Templates)
      m(s"query.$t.p50_ms", median(p50Runs.filter(_.probe.template == t).map(_.wallMs)), "ms")

    // ---- update phase: a seeded repo's point query runs on the parent
    // snapshot; then one traced commit to that repo, and the same query on
    // the new snapshot, which must see the commit. A snapshot or plan cache
    // that served the parent's rows would fail the check.
    val repo = oracle.repos(new Random(env.seed * 13 + 5).nextInt(oracle.repos.size))
    must("read before commit")(Phases.query(env, base, oracle.point(repo), traced = false))(
      queryCheck)
    val (request, ins, after) = edit(env, oracle, repo)
    val (c, read) = tr.traced(spark) {
      val c = must("commit")(Phases.commit(env, base, request, ins))(commitCheck)
      val probe = oracle.point(repo).copy(expected = after.map { case (f, l) => Seq(f, l) })
      (c, must("fresh read")(Phases.query(env, c.dir, probe, traced = true))(queryCheck))
    }
    deleteTree(c.dir)
    o.info ++= Seq("update_commit_ms" -> c.wallMs, "update_read_ms" -> read.wallMs)
    def kid(name: String) = tr.children(c.span).find(_.name == name).get
    val mat = kid("update.store.materialize")
    m("update.sparql.update_ms", kid("update.sparql.update").durMs, "ms")
    m("update.store.materialize_ms", mat.durMs, "ms")
    m("update.store.jobs", jobs(mat).size, "count")
    m("update.store.driver_only_ms", tr.driverOnlyMs(mat), "ms")
    m("update.store.shuffle_write_mb", mb(jobs(mat).map(_.shuffleWriteBytes).sum), "MB")
    m("update.read.compile_ms", read.compileMs, "ms")
    m("update.read.exec_ms", execSelfMs(read), "ms")
  }

  /** One seeded commit of `repo`: delete one of its files' hasFile edge
   * and add a new file at a new commit. Returns (request, inserted rows, the
   * repo's (file, lang) rows after the commit). */
  def edit(env: Env, oracle: Oracle, repo: String)
      : (String, Seq[(Term, Term, Term, String, String)], Seq[(String, String)]) = {
    import CorpusGen._
    val rng = new Random(env.seed * 17 + 3)
    val name = repo.drop(1).dropRight(1).stripPrefix(KG + "repo/")
    val now = oracle.filesOf(repo)
    val old = if (now.isEmpty) None else Some(now(rng.nextInt(now.size))._1)
    val lang = Seq("java", "scala", "py", "ttl", "md")(rng.nextInt(5))
    val file = fileIri(name, s"src/U0001.$lang", commitOf(env.seed + 1, name))
    val del = old.map(f => s"DELETE DATA { $repo code:hasFile $f } ;\n").getOrElse("")
    val request =
      s"""${Oracle.Prefixes}
         |${del}INSERT DATA { $repo code:hasFile <$file> . <$file> code:inLang "$lang" }""".stripMargin
    val ins = Seq(
      (Term.iri(repoIri(name)), Term.iri(P_HASFILE), Term.iri(file), name, lang),
      (Term.iri(file), Term.iri(P_INLANG), Term.string(lang), name, lang))
    (request, ins, now.filterNot(x => old.contains(x._1)) :+ (Oracle.iri(file) -> Oracle.lit(lang)))
  }

  def commitCheck(c: Commit): Option[String] = manifestCheck(c.dir, c.triples)

  private def attr(s: Span, k: String): Double =
    s.attrs.get(k).map(_.toString.toDouble).getOrElse(0.0)

  /** The sink call's own time: its wall minus the optimizer and planner
   * time of the write command it runs. */
  def execSelfMs(r: QueryRun): Double = {
    val s = r.traced.get
    r.execMs - attr(s, "optimize_ms") - attr(s, "plan_ms")
  }

  /** Per-layer query metrics over traced runs: times are medians per query,
   * counts are means per query. */
  def queryLayers(runs: Seq[QueryRun], o: Outcome): Unit = {
    def m(name: String, v: Double, unit: String): Unit = o.metric(s"query.$name", v, unit)
    val spans = runs.map(_.traced.get)
    m("sparql.parse_ms", median(runs.map(_.parseMs)), "ms")
    m("algebra.compile_ms", median(runs.map(_.compileMs)), "ms")
    m("algebra.compile_jobs", mean(spans.map(attr(_, "compile_jobs"))), "count")
    m("catalyst.optimize_ms", median(spans.map(attr(_, "optimize_ms"))), "ms")
    m("catalyst.plan_ms", median(spans.map(attr(_, "plan_ms"))), "ms")
    m("exec.ms", median(runs.map(execSelfMs)), "ms")
    m("exec.jobs", mean(spans.map(attr(_, "exec_jobs"))), "count")
    m("exec.tasks", mean(spans.map(attr(_, "exec_tasks"))), "count")
    m("exec.sched_delay_ms", mean(spans.map(attr(_, "exec_sched_delay_ms"))), "ms")
    m("store.rows_read", mean(spans.map(attr(_, "rows_read"))), "count")
    val read = spans.map(attr(_, "rows_read")).sum
    m("store.rows_kept_ratio", if (read == 0) 0.0 else spans.map(attr(_, "rows_kept")).sum / read,
      "ratio")
  }
}
