package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ColumnarToRowExec, CommandResultExec, FileSourceScanExec,
  FilterExec, InputAdapter, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.algebra.Compiler
import graft.canon.ConnectedComponents
import graft.extract.Extractor
import graft.fixtures.CorpusGen
import graft.link.Linker
import graft.model.Term
import graft.pipeline.Pipeline
import graft.sparql.{Parser, Update}
import graft.store.TripleStore

/** What one run shares: the session (and how long it took to start), its
 * scratch directory, the seed and the tracer (disabled on untraced runs). */
final class Env(val spark: SparkSession, val work: Path, val seed: Long, val tracer: Tracer,
                val sessionS: Double) {
  val nproc: Int = spark.sparkContext.defaultParallelism
  private var n = 0
  /** A fresh directory under the run's scratch directory. */
  def dir(name: String): String = { n += 1; work.resolve(f"$n%03d-$name").toString }
}

final case class Built(dir: String, triples: Long, wallMs: Double) {
  def snapshot: String = s"$dir/snapshot"
}

/** One query's timings. `parseMs`/`compileMs` are always measured; the
 * catalyst split, job counts and scan rows only when traced. */
final case class QueryRun(probe: Probe, wallMs: Double, parseMs: Double, compileMs: Double,
                          execMs: Double, rows: Seq[Seq[String]], traced: Option[Span])

final case class Commit(dir: String, triples: Long, wallMs: Double, span: Span)

/** Public calls into the system, each timed, optionally traced. */
object Phases {
  val FilesPerRepo = 40

  /** The pipeline's switch from the broadcast to the salted link join. */
  val SaltedAbove = 100000

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def buildFused(env: Env, nRepos: Int): Built = {
    val dir = env.dir(s"build-$nRepos")
    val t0 = System.nanoTime()
    val n = Pipeline.runFused(env.spark, nRepos, FilesPerRepo, dir, env.seed)
    Built(dir, n, ms(t0))
  }

  /**
   * The steps of `Pipeline.runFused`, called one by one with a forced
   * boundary (persist + count) after each, so every layer gets its own span.
   * Returns the build, its root span and the counts behind the layer ratios.
   */
  def buildTraced(env: Env, nRepos: Int): (Built, Span, Map[String, Double]) = {
    val spark = env.spark
    val tr = env.tracer
    val dir = env.dir(s"traced-build-$nRepos")
    val nEntities = CorpusGen.nEntities(nRepos, FilesPerRepo)
    val ccLocalMax = sys.env.getOrElse("SPARK_GRAFT_CC_LOCAL_MAX", "2000000").toLong
    val t0 = System.nanoTime()
    val persisted = mutable.ArrayBuffer.empty[org.apache.spark.sql.Dataset[_]]
    def force[T](ds: org.apache.spark.sql.Dataset[T]): (org.apache.spark.sql.Dataset[T], Long) = {
      val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
      persisted += p
      (p, p.count())
    }
    try {
      var root: Span = null
      val counts = mutable.LinkedHashMap.empty[String, Double]
      val n = tr.span("build") {
        root = tr.current
        val (corpus, _) = tr.span("build.fixtures") {
          force(CorpusGen.generateDistributed(spark, env.seed, nRepos, FilesPerRepo))
        }
        val (cands, nCands) = tr.span("build.extract") {
          force(Extractor.extract(corpus, repartition = false))
        }
        corpus.unpersist()
        // the counts behind the ratios run between the layer spans, on
        // cached data
        val mentions = cands.where(col("surface") =!= "").count()
        val (linked, nLinked) = tr.span("build.link") {
          val dict = CorpusGen.dictionaryDistributed(spark, nEntities)
          force(
            if (nEntities <= SaltedAbove) Linker.exact(cands, dict, uniqueSurfaces = true)
            else Linker.exactSalted(cands, dict, spark.sparkContext.defaultParallelism,
              uniqueSurfaces = true))
        }
        cands.unpersist()
        val sameAs = linked.where(col("p.lex") === CorpusGen.OWL_SAMEAS)
          .select(col("s.lex").as("src"), col("o.lex").as("dst"))
        val edges = sameAs.where(col("src") =!= col("dst")).distinct().count()
        val (rewritten, nRewritten) = tr.span("build.canon") {
          val mapping = ConnectedComponents.runAdaptive(sameAs, ccLocalMax)
          force(ConnectedComponents.rewrite(linked.toDF(), mapping))
        }
        linked.unpersist()
        counts ++= Seq("candidates" -> nCands.toDouble, "mentions" -> mentions.toDouble,
          "linked_mentions" -> (nLinked - (nCands - mentions)).toDouble,
          "edges" -> edges.toDouble, "rewritten" -> nRewritten.toDouble)
        tr.span("build.store") {
          TripleStore.materialize(rewritten, s"$dir/snapshot", parent = None,
            partitions = spark.sparkContext.defaultParallelism)
        }
      }
      (Built(dir, n, ms(t0)), root, counts.toMap)
    } finally persisted.foreach(_.unpersist())
  }

  /** Sum of the sizes of every file under a directory, in MB. */
  def sizeMb(dir: String): Double = {
    val st = Files.walk(Paths.get(dir))
    try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum / 1e6
    finally st.close()
  }

  // ------------------------------------------------------------- queries

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case c: CommandResultExec => c +: planNodes(c.commandPhysicalPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  /** (rows read by file scans, rows kept by the filters directly above). */
  def scanRows(plan: SparkPlan): (Long, Long) = {
    def strip(p: SparkPlan): SparkPlan = p match {
      case c: ColumnarToRowExec => strip(c.child)
      case i: InputAdapter => strip(i.child)
      case other => other
    }
    def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    val nodes = planNodes(plan)
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    val filtered = nodes.collect {
      case f: FilterExec if strip(f.child).isInstanceOf[FileSourceScanExec] =>
        (strip(f.child), rows(f))
    }
    val read = scans.map(rows).sum
    val kept = scans.map(s => filtered.find(_._1 eq s).map(_._2).getOrElse(rows(s))).sum
    (read, kept)
  }

  def collectRows(df: DataFrame, vars: Seq[String]): Seq[Seq[String]] =
    df.select(vars.map(col): _*).collect().toSeq.map(r => vars.indices.map(i => Oracle.cell(r.get(i))))

  /** Parse → compile → full-row noop sink, timed; the rows are collected
   * afterwards, off the clock, for the correctness check. */
  def query(env: Env, snapshot: String, probe: Probe, traced: Boolean): QueryRun = {
    val tr = if (traced) env.tracer else Tracer.Off
    var before = 0L
    val t0 = System.nanoTime()
    var span: Span = null
    var parseMs, compileMs = 0.0
    val df = tr.span("query") {
      val t1 = System.nanoTime()
      val op = tr.span("query.sparql.parse")(Parser.parse(probe.text))
      parseMs = ms(t1)
      val t2 = System.nanoTime()
      val df = tr.span("query.algebra.compile") {
        Compiler.compile(op, Compiler.SnapshotGraph(env.spark, snapshot))
      }
      compileMs = ms(t2)
      before = tr.plans.sinks
      tr.span("query.exec")(df.write.format("noop").mode("overwrite").save())
      if (traced) span = tr.current
      df
    }
    val wall = ms(t0)
    val execMs = wall - parseMs - compileMs
    if (traced) {
      val qe = tr.plans.awaitAfter(before)
      require(qe != null, "no executed plan delivered for the sink call")
      val phases = qe.tracker.phases
      def phase(n: String) = phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
      val (read, kept) = scanRows(qe.executedPlan)
      tr.drain()
      val kids = tr.children(span).map(s => s.name -> tr.jobsIn(s)).toMap
      val exec = kids("query.exec")
      span.attrs ++= Seq("template" -> probe.template,
        "optimize_ms" -> phase("optimization"), "plan_ms" -> phase("planning"),
        "rows_read" -> read, "rows_kept" -> kept,
        "compile_jobs" -> kids("query.algebra.compile").size,
        "exec_jobs" -> exec.size, "exec_tasks" -> exec.map(_.tasks).sum,
        "exec_sched_delay_ms" -> exec.map(_.schedDelayMs).sum)
    }
    QueryRun(probe, wall, parseMs, compileMs, execMs, collectRows(df, probe.vars),
      Option(span))
  }

  def matches(run: QueryRun): Boolean =
    if (run.probe.ordered) run.rows == run.probe.expected
    else run.rows.map(_.mkString("\t")).sorted == run.probe.expected.map(_.mkString("\t")).sorted

  // ------------------------------------------------------------- updates

  private def term(p: String) = struct(
    col(s"${p}_kind").as("kind"), col(s"${p}_lex").as("lex"),
    col(s"${p}_dt").as("dt"), col(s"${p}_lang").as("lang")).as(p)

  /**
   * Apply one SPARQL Update request to the snapshot at `parent` with
   * `Update.run` and commit the result as the next snapshot, traced.
   *
   * `Update.run` returns only s/p/o, and `TripleStore.materialize` needs the
   * repo/lang lineage columns, so they are re-attached: a left join on
   * (s, p, o) against the parent's SPO rows (which carry repo/lang) plus
   * the inserted triples with the repo/lang of the file they belong to.
   */
  def commit(env: Env, parent: String, request: String,
             inserted: Seq[(Term, Term, Term, String, String)]): Commit = {
    val spark = env.spark
    import spark.implicits._
    val tr = env.tracer
    val dir = env.dir("commit")
    val t0 = System.nanoTime()
    var span: Span = null
    val n = tr.span("update") {
      val withAttrs = spark.read.parquet(s"$parent/spo")
        .select(term("s"), term("p"), term("o"), col("repo"), col("lang"))
      val updated = tr.span("update.sparql.update") {
        Update.run(withAttrs.select("s", "p", "o"), request)
      }
      val attrs = withAttrs.unionByName(inserted.toDF("s", "p", "o", "repo", "lang"))
      val n = tr.span("update.store.materialize") {
        TripleStore.materialize(updated.join(attrs, Seq("s", "p", "o"), "left"), dir,
          parent = Some(parent), partitions = env.nproc)
      }
      span = tr.current
      n
    }
    Commit(dir, n, ms(t0), span)
  }
}
