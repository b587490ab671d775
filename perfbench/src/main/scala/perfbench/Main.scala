package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{GraftSession, SparkEntry, Tables}
import graft.operators.{AnnIndex, Bm25Index, TextAnalysis, TextIndex}

/** The benchmark's JVM leg: one workload, one client, closed loop.
  *
  * It builds a session through `GraftSession.build`, runs one untimed
  * warm pass (which also dumps every result for the correctness check),
  * then timed passes until `--seconds` have elapsed and at least
  * `--min-passes` have run, each in a seeded order. Every call into
  * graft is timed from outside. With `--trace 1` passes alternate
  * between untraced and traced; traced passes tag each phase with a
  * job description and a SparkListener collects jobs, stages and task
  * metrics under it. Raw records go to `--out` as JSON;
  * `run.py` turns them into metrics.
  *
  * `java perfbench.Main --workload W --seed N --seconds S --min-passes P
  *   --trace 0|1 --data DIR --work DIR --cpus N --out FILE` */
object Main {
  /** The `queries` workload: OLAP keys whose per-query fixed costs
    * (schema inference, planning, job launch) meet multi-file tables
    * of the test schema's sf0.1 size, and corpus keys that run Spark
    * jobs while the DataFrame is still being constructed. */
  val QueryKeys: Seq[String] = Seq("q1_agg", "q_tpch_q5", "q_sql_frontend",
    "dedup_minhash_clusters", "text_pmi_bigrams")
  val TableNames: Set[String] = Set("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** One call into graft. `body` runs it through the runner's phases. */
  final case class Op(name: String, kind: String, body: Runner => Unit)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val t0 = System.nanoTime()
    val spark = GraftSession.build(a("cpus"))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sessionReadyMs = System.currentTimeMillis()
    val work = Paths.get(a("work"))
    spark.sparkContext.setCheckpointDir(work.resolve("ckpt").toString)
    val runner = new Runner(spark, a("data"), work, a("workload"), a("seed").toLong)
    // stop Spark on every path: its non-daemon threads would keep a
    // failed run's JVM alive
    val (out, heap) = try {
      val o = runner.run(a("seconds").toDouble, a("min-passes").toInt, a("trace") == "1")
      // what the program still holds once the run is over, Spark's
      // block storage and every per-JVM cache included
      System.gc()
      (o, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage)
    } finally spark.stop()
    val result = out ++ Map("session_build_s" -> sessionS,
      "session_ready_epoch_ms" -> sessionReadyMs,
      "vm_hwm_mb" -> vmHwmMb(),
      "heap_committed_mb" -> heap.getCommitted / 1048576.0,
      "heap_live_mb" -> heap.getUsed / 1048576.0,
      "oracles" -> QueryKeys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(a("out")), mapper.writeValueAsString(result))
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}

/** Runs passes of one workload and records what each operation did. */
final class Runner(spark: SparkSession, data: String, work: Path,
                   workload: String, seed: Long) {
  import Main._
  import spark.implicits._

  private val sc = spark.sparkContext
  private val checkDir = work.resolve("check")
  private var tracer: Option[Tracer] = None
  private var traced = false
  private var opSpan: Span = _
  private var rec: mutable.Map[String, Any] = _
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var checking = false
  /** "warm", "timed" or "finish": which part of the run a pass is. */
  private var phaseOfRun = "warm"
  private val afterTiming = mutable.ArrayBuffer.empty[() => Unit]
  /** The last query's DataFrame in a traced pass, for the table probe. */
  private var readFrom: Option[DataFrame] = None

  // ---- phases ---------------------------------------------------------

  def phase[T](name: String)(body: => T): T = {
    val span = if (traced) tracer.map(_.open("phase", name, opSpan.id)) else None
    val t0 = System.nanoTime()
    try body
    finally {
      val phases = rec("phases").asInstanceOf[mutable.Map[String, Double]]
      phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
      span.foreach(s => tracer.get.close(s))
    }
  }

  def note(key: String, v: Any): Unit = rec(key) = v

  /** Correctness work, run once the operation's timer has stopped and
    * kept out of the pass time: for the first operation of each kind in
    * the warm pass and, when the run compacts, again after compaction. */
  def check(kind: String)(f: => Unit): Unit =
    if (checking && checked.add(s"$phaseOfRun/$kind")) afterEach(f)
  private val checked = mutable.Set.empty[String]

  /** The same, after every operation that asks for it. */
  def afterEach(f: => Unit): Unit = afterTiming += (() => f)

  // ---- query workloads ------------------------------------------------

  private def queryOp(key: String): Op = Op(key, "read", r => {
    val df = r.phase("construct")(SparkEntry.queries(key)(spark, data))
    r.phase("plan")(df.queryExecution.executedPlan)
    r.phase("execute") {
      if (checking) df.write.mode("overwrite").parquet(checkDir.resolve(key).toString)
      else df.write.format("noop").mode("overwrite").save()
    }
    if (traced) readFrom = Some(df)
  })

  // ---- index workload -------------------------------------------------

  private lazy val baseVecs: DataFrame =
    Tables.embeddings(spark, data).select("vec_id", "embedding")
  private lazy val baseDocs: DataFrame =
    Tables.documents(spark, data).select("doc_id", "text")
  private lazy val poolVecs: Array[Row] = spark.read
    .parquet(s"$data/pool_embeddings.parquet").select("vec_id", "embedding")
    .orderBy("vec_id").collect()
  private lazy val poolDocs: Array[Row] = spark.read
    .parquet(s"$data/pool_documents.parquet").select("doc_id", "text")
    .orderBy("doc_id").collect()
  private lazy val baseDocRows: Array[Row] = baseDocs.orderBy("doc_id").collect()
  private lazy val Vocab = poolDocs.iterator.take(200)
    .flatMap(_.getString(1).split(" ")).toSeq.distinct.sorted

  private val AnnDir = work.resolve("index/ann").toString
  private val Bm25Dir = work.resolve("index/bm25").toString
  private val TextDir = work.resolve("index/text").toString
  private val AnnBatch = 200
  private val DocBatch = 250
  private val ProbeVecs = 8

  /** What the indexes hold, so checks know the truth. Lives for the
    * whole run: the warm pass builds the indexes and every pass after
    * it appends to them, then compacts. */
  private final class IndexState(rnd: Random) {
    /** The vectors the ANN index holds, on the driver, for the exact
      * top-10. */
    val liveRows: mutable.ArrayBuffer[(Long, Seq[Float])] =
      mutable.ArrayBuffer.from(baseVecs.collect().map(r => (r.getLong(0), r.getSeq[Float](1))))
    var annCold = true
    /** Bytes of the input rows handed to the indexes: ids, vectors,
      * text. Base docs go to two builds (BM25 and text). */
    var inputBytes: Double = liveRows.size * (8 + 64 * 4) + 2.0 * docBytes(baseDocRows.toSeq)
    private val vecOrder = rnd.shuffle(poolVecs.indices.toVector)
    private val docOrder = rnd.shuffle(poolDocs.indices.toVector)
    private var vi = 0
    private var di = 0
    def vecs(n: Int): Seq[Row] = { val r = vecOrder.slice(vi, vi + n).map(poolVecs); vi += n; r }
    def docs(n: Int): Seq[Row] = { val r = docOrder.slice(di, di + n).map(poolDocs); di += n; r }
  }
  private lazy val index = new IndexState(new Random(seed))

  private def vecDf(rows: Seq[Row]): DataFrame =
    rows.map(r => (r.getLong(0), r.getSeq[Float](1))).toDF("vec_id", "embedding")
  private def docDf(rows: Seq[Row]): DataFrame =
    rows.map(r => (r.getLong(0), r.getString(1))).toDF("doc_id", "text")
  private def docBytes(rows: Seq[Row]): Long = rows.map(8L + _.getString(1).length).sum

  private def indexPass(rnd: Random): Seq[Op] = {
    val st = index
    def write(name: String)(f: => Unit): Op = Op(name, "write", r => r.phase("execute")(f))
    def annProbe(): Op = {
      val q = st.vecs(ProbeVecs).zipWithIndex
        .map { case (r, i) => (i.toLong, r.getSeq[Float](1)) }
      Op("ann_query", "read", r => {
        r.note("cold", st.annCold); st.annCold = false
        val df = r.phase("construct")(AnnIndex.query(spark, AnnDir,
          q.toDF("q_id", "q_emb"), topK = 10, excludeSelf = false))
        r.phase("plan")(df.queryExecution.executedPlan)
        val rows = r.phase("execute")(df.collect())
        r.note("rows", rows.length)
        // by-name: scored once the timer has stopped
        r.afterEach(probeRecall(q, rows, st.liveRows.toSeq))
        r.check("ann")(checkFullProbe(q, st.liveRows.toSeq))
      })
    }
    def bm25Probe(): Op = {
      val terms = rnd.shuffle(Vocab).take(2 + rnd.nextInt(2))
      Op("bm25_search", "read", r => {
        r.note("cold", false)
        val df = r.phase("construct")(Bm25Index.search(spark, Bm25Dir, terms))
        r.phase("plan")(df.queryExecution.executedPlan)
        val rows = r.phase("execute")(df.collect())
        r.note("rows", rows.length)
        r.check("bm25")(checkBm25(terms, rows, baseDocs))
      })
    }
    val annAppend = () => {
      val rows = st.vecs(AnnBatch)
      val b = vecDf(rows)
      write("ann_append") {
        AnnIndex.append(spark, b, AnnDir)
        st.liveRows ++= rows.map(r => (r.getLong(0), r.getSeq[Float](1)))
        st.annCold = true; st.inputBytes += AnnBatch * (8 + 64 * 4)
      }
    }
    val textIngest = () => {
      // one doc in ten repeats a base doc, which admission must reject
      val rows = st.docs(DocBatch - DocBatch / 10) ++
        rnd.shuffle(baseDocRows.toVector).take(DocBatch / 10)
      val b = docDf(rows)
      Op("text_ingest", "write", r => {
        val admitted = r.phase("execute")(TextIndex.ingest(spark, b, TextDir).count())
        r.note("offered", rows.size); r.note("admitted", admitted)
        st.inputBytes += docBytes(rows)
      })
    }
    if (phaseOfRun == "finish")
      // once per run, after the timed passes: fold the appends, reclaim
      // files, and probe once more so the compacted indexes are checked
      Seq(write("ann_compact")(AnnIndex.compact(spark, AnnDir)),
        write("bm25_compact")(Bm25Index.compact(spark, Bm25Dir)),
        write("text_compact")(TextIndex.compact(spark, TextDir)),
        write("ann_vacuum")(AnnIndex.vacuum(spark, AnnDir)),
        write("bm25_vacuum")(Bm25Index.vacuum(spark, Bm25Dir)),
        write("text_vacuum")(TextIndex.vacuum(spark, TextDir)),
        annProbe(), bm25Probe())
    else {
      // each write is followed by one probe of each serving index; the
      // ANN probe after an ANN append is the cold one
      val rounds = rnd.shuffle(Seq[() => Op](annAppend, textIngest))
        .map(w => () => Seq(w(), annProbe(), bm25Probe()))
      val builds = if (phaseOfRun != "warm") Nil else
        Seq(write("ann_build")(AnnIndex.build(spark, baseVecs, AnnDir)),
          write("bm25_build")(Bm25Index.build(spark, baseDocs, Bm25Dir)),
          write("text_build")(TextIndex.build(spark, baseDocs, TextDir)))
      builds ++ rounds.flatMap(_())
    }
  }

  private def cos(a: Seq[Float], b: Seq[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  /** Mean recall@10 of a probe's answer against an exact scan of the
    * live vectors. */
  private def recall(q: Seq[(Long, Seq[Float])], got: Array[Row],
                     live: Seq[(Long, Seq[Float])]): Double = q.map { case (qid, v) =>
    val exact = live.map { case (id, e) => (id, cos(v, e)) }
      .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
    val hits = got.filter(_.getAs[Long]("q_id") == qid).map(_.getAs[Long]("vec_id"))
    hits.count(exact).toDouble / exact.size
  }.sum / q.size

  /** Recall of every probe the workload makes, with the probe width the
    * engine picks. Their mean over the run must meet the engine's IVF
    * recall floor (`SimilaritySpec`: 0.5 on a near-isotropic corpus). */
  private val probeRecalls = mutable.ArrayBuffer.empty[Double]
  private def probeRecall(q: Seq[(Long, Seq[Float])], got: Array[Row],
                          live: Seq[(Long, Seq[Float])]): Unit =
    probeRecalls += recall(q, got, live)
  private val RecallFloor = 0.5

  /** A probe of every cell must find the exact top-10 (up to float
    * ties). */
  private def checkFullProbe(q: Seq[(Long, Seq[Float])], live: Seq[(Long, Seq[Float])]): Unit = {
    val full = AnnIndex.query(spark, AnnDir, q.toDF("q_id", "q_emb"),
      nProbe = AnnIndex.readMeta(spark, AnnDir).k, topK = 10, excludeSelf = false).collect()
    val r = recall(q, full, live)
    checks += Map("check" -> "ann_full_probe_recall", "ok" -> (r >= 0.95), "value" -> r)
  }

  /** The index serving read must equal the live corpus scan exactly. */
  private def checkBm25(terms: Seq[String], got: Array[Row], live: DataFrame): Unit = {
    val want = TextAnalysis.bm25Search(live, terms).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25"), r.getAs[Long]("n_terms_hit")))
    val have = got.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25"),
      r.getAs[Long]("n_terms_hit")))
    checks += Map("check" -> "bm25_equals_scan", "ok" -> (want.toSeq == have.toSeq),
      "value" -> have.length.toDouble)
  }

  private def dirStats(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).toArray.map(f => Files.size(f.asInstanceOf[Path]))
        .foldLeft((0L, 0L)) { case ((n, b), sz) => (n + 1, b + sz) }
      finally s.close()
    }
  }

  // ---- passes ---------------------------------------------------------

  private def opsFor(rnd: Random): Seq[Op] = workload match {
    case "queries" => rnd.shuffle(QueryKeys).map(queryOp)
    case "index_rw" => indexPass(rnd)
    case w => throw new IllegalArgumentException(s"unknown workload: $w")
  }

  private def runPass(p: Int, runSpan: Long): Map[String, Any] = {
    val rnd = new Random(seed * 1000003L + p)
    val passSpan = if (traced) tracer.map(_.open("pass", s"pass$p", runSpan)) else None
    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    var excluded = 0L
    val t0 = System.nanoTime()
    for (op <- opsFor(rnd)) {
      opSpan = if (traced) tracer.get.open("op", op.name, passSpan.get.id) else null
      rec = mutable.Map("name" -> op.name, "kind" -> op.kind, "pass" -> p,
        "phases" -> mutable.Map.empty[String, Double], "ok" -> true)
      val s0 = System.nanoTime()
      try op.body(this)
      catch {
        case e: Throwable =>
          rec("ok") = false
          rec("error") = s"${e.getClass.getName}: ${e.getMessage}".take(500)
          System.err.println(s"[perfbench] ${op.name} failed: ${rec("error")}")
      }
      val wall = (System.nanoTime() - s0) / 1e9
      rec("wall_s") = wall
      val up = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
      System.err.println(f"[perfbench] at $up%.1f s: pass $p ${op.name} $wall%.3f s")
      val x0 = System.nanoTime()
      afterTiming.foreach { f =>
        try f()
        catch { case e: Throwable =>
          checks += Map("check" -> op.name, "ok" -> false, "value" -> 0.0,
            "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(500))
        }
      }
      afterTiming.clear()
      if (opSpan != null) tracer.get.close(opSpan)
      if (traced) {
        rec("storage_mb") = sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
        readFrom.foreach(probeTables)
        readFrom = None
      }
      excluded += System.nanoTime() - x0
      records += rec.toMap.map {
        case ("phases", m: mutable.Map[_, _]) => "phases" -> m.toMap
        case kv => kv
      }
    }
    passSpan.foreach(s => tracer.get.close(s))
    Map("pass" -> p, "traced" -> traced,
      "wall_s" -> (System.nanoTime() - t0 - excluded) / 1e9, "ops" -> records.toSeq)
  }

  /** Direct `Tables.byName` call per table the operation read, timed
    * and tagged so the jobs it launches (schema inference) are
    * counted. Runs outside the pass timer. */
  private def probeTables(df: DataFrame): Unit =
    df.inputFiles.toSeq
      .flatMap(f => "([a-z_]+)\\.parquet".r.findAllMatchIn(f).map(_.group(1)))
      .filter(TableNames).distinct
      .foreach { n =>
        val s = tracer.get.open("phase", "tables", opSpan.id)
        Tables.byName(spark, data, n)
        tracer.get.close(s)
      }

  def run(seconds: Double, minPasses: Int, trace: Boolean): Map[String, Any] = {
    if (trace) tracer = Some(new Tracer(sc))
    val runSpan = tracer.map(_.open("run", workload, 0L))
    val runId = runSpan.map(_.id).getOrElse(0L)
    checking = true
    val warm = runPass(0, runId)
    checking = false
    phaseOfRun = "timed"
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var p = 1
    def elapsed = (System.nanoTime() - t0) / 1e9
    def pass(tracing: Boolean): Map[String, Any] = {
      traced = tracing
      if (traced) sc.addSparkListener(tracer.get.listener)
      val r = runPass(p, runId)
      if (traced) { tracer.get.drain(); sc.removeSparkListener(tracer.get.listener) }
      traced = false
      p += 1
      r
    }
    // At least `minPasses`: the first pass after the warm one still
    // compiles code for the noop sink and shares the cores with the JIT,
    // and the metrics are medians over passes. Traced runs repeat
    // (untraced, untraced, traced), so tracing overhead is measured
    // against the untraced pass just before.
    while (passes.size < minPasses || elapsed < seconds || (trace && passes.size % 3 != 0))
      passes += pass(trace && p % 3 == 0)
    val finish = if (workload != "index_rw" || !trace) None else {
      phaseOfRun = "finish"
      checking = true
      Some(pass(false))
    }
    val (files, bytes) = if (workload == "index_rw")
      Seq(AnnDir, Bm25Dir, TextDir).map(dirStats).reduce((x, y) => (x._1 + y._1, x._2 + y._2))
    else (0L, 0L)
    val inputBytes = if (workload == "index_rw") index.inputBytes else 0.0
    if (probeRecalls.nonEmpty) {
      val mean = probeRecalls.sum / probeRecalls.size
      checks += Map("check" -> "ann_probe_recall", "ok" -> (mean >= RecallFloor),
        "value" -> mean, "min" -> probeRecalls.min, "probes" -> probeRecalls.size)
    }
    runSpan.foreach(s => tracer.get.close(s))
    Map("workload" -> workload, "seed" -> seed, "warm" -> warm,
      "passes" -> passes.toSeq, "finish" -> finish.toSeq, "checks" -> checks.toSeq,
      "index_files" -> files, "index_bytes" -> bytes,
      "index_input_bytes" -> inputBytes,
      "spans" -> tracer.map(_.all.map(_.toMap)).getOrElse(Nil))
  }
}
