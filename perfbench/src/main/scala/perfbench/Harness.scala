package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkInternals, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{ColdBuilds, QueryDef, SparkEntry, Tables}
import graft.operators.{Dedup, Similarity, TextAnalysis, UrlCuration}

/** JVM side of the benchmark: one Spark session, one client, one call at a
  * time (closed loop). `run.py` builds the inputs, launches this main and
  * turns the raw records it writes into metrics.
  *
  * A run is: session start and one untimed warm-up pass (together:
  * set-up), then timed passes until `--seconds` have elapsed (at least
  * five). The warm-up pass is also the check pass: it writes every
  * oracle-backed output as parquet for the DuckDB diff and takes the heap
  * after a forced GC per call. With `--trace 1` the warm-up is followed by
  * `SettlePasses` untimed passes and then exactly four passes, two of them
  * traced with the listeners attached; the per-layer numbers come from
  * those.
  *
  * Every call is one query (`QueryDef.fn` plus a noop-sink write) or one
  * curation stage. Each output carries an observed row count and
  * order-insensitive digest, so every pass is checked against the warm-up
  * pass at no extra job. After every call the cached plans and persisted
  * RDDs it left behind are counted and released, so no call reads a cache
  * an earlier one left (curation stages hand their checkpoints to the next
  * stage, so there the release happens at the end of the pass).
  */
object Harness {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, corpus: String, checkOut: String, out: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m.getOrElse("corpus", ""), m("check-out"), m("out"))
  }

  /** The one session config every workload shares. */
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---- workloads -------------------------------------------------------

  /** Queries of each query-mix workload: a fixed subset of the
    * relational, FreshKart and streaming families, sized so that a run
    * (set-up and five timed passes) fits the benchmark's per-run time. The
    * whole families take 27-44 s per warm pass at sf0.01 on a 4-core box,
    * and twice that cold.
    */
  val Workloads: Map[String, Seq[String]] = Map(
    // short, oracle-checked, few-job queries, where planning and per-job
    // scheduling are a large share, and an AvailableNow stream that runs
    // inside the call: a watermarked windowed aggregate, with its state
    // store and checkpoint
    "relational_streams" -> Seq("q01_pricing_summary", "q05_window_dedup",
      "q34_correlated_subquery", "fk_daily_city_sales", "ev_stream_window"))

  /** Untimed passes between the warm-up and the traced run's four. Pass
    * times keep falling for several passes after the cold one while the
    * JIT compiles, so the untraced and traced passes compared for the
    * tracing cost must both come after the steep part of that curve.
    */
  val SettlePasses = 2

  def queryDefs(workload: String): Seq[QueryDef] = {
    val all = SparkEntry.allDefs.map(d => d.name -> d).toMap
    Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
      .map(n => all.getOrElse(n, sys.error(s"unknown query $n")))
  }

  /** Module a query's construction code lives in (the build layer). */
  lazy val layerOf: Map[String, String] =
    (graft.queries.Relational.defs.map(_.name -> "queries") ++
      graft.freshkart.FreshKartQueries.defs.map(_.name -> "freshkart") ++
      (graft.streaming.Events.defs ++ graft.streaming.EventAnalytics.defs)
        .map(_.name -> "streaming")).toMap.withDefaultValue("operators")

  // ---- records ---------------------------------------------------------

  final class CallRec(val pass: Int, val name: String, val layer: String) {
    var ok = true
    var err = ""
    var startMs = 0L
    var buildEndMs = 0L
    var endMs = 0L
    var buildS = 0.0
    var execS = 0.0
    var rows = -1L
    var digest = ""
    var heapMb = -1.0
    val outputs = mutable.LinkedHashMap.empty[String, Long]
    val counters = mutable.LinkedHashMap.empty[String, Double]
    def wallS: Double = buildS + execS
  }

  /** A pass's wall time is the sum of its calls': the closed loop issues
    * them back to back, and the bookkeeping between them is the harness's.
    */
  final class PassRec(val index: Int, val kind: String) {
    var wallS = 0.0
    val calls = mutable.ArrayBuffer.empty[CallRec]
  }

  // ---- per-call bookkeeping -------------------------------------------

  final class Env(val spark: SparkSession, val opts: Opts) {
    val sc = spark.sparkContext
    val tracer = new Tracer(spark)
    /** Persisted RDDs the harness itself made (curation stage hand-offs). */
    val owned = mutable.Set.empty[Int]
    var traced = false

    /** Cached plans, persisted RDDs and their MB that nobody released. */
    def leaks(): (Int, Int, Double) = {
      val plans = SparkInternals.cachedPlans(spark)
      val ids = sc.getPersistentRDDs.keySet.toSet -- owned
      val bytes = sc.getRDDStorageInfo.filter(i => ids(i.id))
        .map(i => i.memSize + i.diskSize).sum
      (plans, ids.size, bytes / 1e6)
    }

    /** Drops every cached plan and persisted RDD, the harness's own too. */
    def release(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      owned.clear()
    }

    /** localCheckpoint owned by the harness (not counted as a leak). */
    def checkpoint(df: DataFrame): DataFrame = {
      val ck = df.localCheckpoint()
      ck.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }
        .foreach(owned += _)
      ck
    }

    /** Runs one call: `build` makes the output frame, `exec` forces it.
      * Failures are recorded, never thrown.
      */
    def call[A](rec: CallRec)(build: => A)(exec: A => Unit): Option[A] = {
      val leaksBefore = if (traced) leaks() else (0, 0, 0.0)
      if (traced) tracer.begin()
      rec.startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var built: Option[A] = None
      try {
        val a = build
        built = Some(a)
        rec.buildEndMs = System.currentTimeMillis()
        val t1 = System.nanoTime()
        rec.buildS = (t1 - t0) / 1e9
        exec(a)
        rec.execS = (System.nanoTime() - t1) / 1e9
      } catch {
        case NonFatal(e) =>
          rec.ok = false
          rec.err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          if (rec.buildEndMs == 0L) rec.buildS = (System.nanoTime() - t0) / 1e9
          else rec.execS = (System.nanoTime() - t0) / 1e9 - rec.buildS
          built = None
      }
      rec.endMs = System.currentTimeMillis()
      if (rec.buildEndMs == 0L) rec.buildEndMs = rec.endMs
      if (traced) {
        tracer.end(rec)
        // what this call left behind (curation stages release per pass)
        val (plans, rdds, mb) = leaks()
        rec.counters("cache.plans_leaked") = plans - leaksBefore._1
        rec.counters("cache.rdds_leaked") = rdds - leaksBefore._2
        rec.counters("cache.leaked_mb") = mb - leaksBefore._3
      }
      built
    }

    /** Heap in use after a forced full GC. Spark's ContextCleaner frees
      * broadcast and shuffle blocks only after a GC has dropped their owners,
      * on its own thread, so a second GC after a pause takes what it freed.
      */
    def heapAfterGc(rec: CallRec): Unit = {
      System.gc()
      Thread.sleep(250)
      System.gc()
      rec.heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }
  }

  // ---- output digests ----------------------------------------------------

  private def needsString(t: DataType): Boolean = t match {
    case _: MapType | _: UserDefinedType[_] => true
    case ArrayType(e, _) => needsString(e)
    case StructType(fs) => fs.exists(f => needsString(f.dataType))
    case other => other.typeName == "variant"
  }

  /** `df` with an observation of its row count and an order-insensitive
    * sum of per-row hashes, computed by the same execution that forces it.
    * Columns are renamed positionally first so duplicate names cannot make
    * the hash ambiguous.
    */
  def observed(df: DataFrame): (DataFrame, Observation) = {
    val names = df.columns.indices.map(i => s"c$i")
    val r = df.toDF(names: _*)
    val cols: Seq[Column] = r.schema.fields.toSeq.map { f =>
      if (needsString(f.dataType)) col(f.name).cast("string") else col(f.name)
    }
    val obs = Observation()
    val o = r.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(xxhash64(cols: _*).cast(DecimalType(38, 0))), lit(BigDecimal(0))).as("h"))
    (o.toDF(df.columns.toSeq: _*), obs)
  }

  def readObservation(obs: Observation, rec: CallRec): Unit = {
    val row = Await.result(obs.future, 120.seconds)
    rec.rows = row.getLong(0)
    rec.digest = row.get(1).toString
  }

  // ---- query workloads ---------------------------------------------------

  def queryPass(env: Env, defs: Seq[QueryDef], index: Int, kind: String): PassRec = {
    val spark = env.spark
    val dir = env.opts.data
    val pass = new PassRec(index, kind)
    // the warm-up runs in definition order, so set-up and the heap it
    // measures do not depend on the seed; timed passes run in seeded order
    val order = if (kind == "warmup") defs else new Random(env.opts.seed * 7919L + index).shuffle(defs)
    order.foreach { d =>
      val rec = new CallRec(index, d.name, layerOf(d.name))
      env.call(rec)(observed(d.fn(spark, dir))) { case (df, obs) =>
        if (kind == "warmup" && d.oracle.isDefined)
          df.coalesce(1).write.mode("overwrite").parquet(s"${env.opts.checkOut}/${d.name}")
        else df.write.format("noop").mode("overwrite").save()
        readObservation(obs, rec)
      }
      if (kind == "warmup") env.heapAfterGc(rec)
      env.release()
      pass.calls += rec
    }
    pass.wallS = pass.calls.map(_.wallS).sum
    pass
  }

  // ---- curation ----------------------------------------------------------

  /** The composed curation pipeline, stage by stage, as in
    * `graft.PipelineHeadline`: gates, dedup cascade, SemDeDup, packing.
    * Each stage's timer covers building and materializing its survivor
    * set; the per-stage output counts are taken outside the timers, in one
    * job at the end of the pass.
    */
  def curationPass(env: Env, index: Int, kind: String): PassRec = {
    val spark = env.spark
    import spark.implicits._
    val pass = new PassRec(index, kind)
    val docs = Tables.documents(spark, env.opts.corpus)
    val embeddings = Tables.embeddings(spark, env.opts.corpus)
    /** Survivor sets whose docs_out/bytes_out are counted after the pass. */
    val survivors = mutable.ArrayBuffer.empty[(CallRec, DataFrame)]
    def stage[A](name: String)(build: => A)(exec: A => DataFrame): Option[DataFrame] = {
      // the stage functions live in graft.operators: that is their build layer
      val rec = new CallRec(index, name, "operators")
      var out: DataFrame = null
      val ok = env.call(rec)(build) { a => out = exec(a) }
      if (kind == "warmup") env.heapAfterGc(rec)
      pass.calls += rec
      ok.map(_ => out)
    }
    val gates = stage("gates") {
      Seq(
        TextAnalysis.gopherFlags(spark, docs).filter($"keep"),
        TextAnalysis.qualityScores(spark, docs).filter($"quality" >= 0.5),
        UrlCuration.blocklistMatches(spark, docs).filter(!$"blocked"),
        TextAnalysis.detectLang(spark, docs)
          .filter($"lang_detected" === $"lang_declared"))
    } { frames =>
      frames.map(f => env.checkpoint(f.select("doc_id")))
        .foldLeft(docs.select("doc_id"))((acc, g) => acc.join(g, "doc_id"))
        .transform(env.checkpoint)
    }
    gates.foreach(g => survivors += pass.calls.last -> g)
    val keeps = gates.flatMap { g =>
      stage("dedup") {
        Dedup.cascadeAttribution(spark, docs.join(g, "doc_id"))
          .filter($"stage" === "keep").select("doc_id")
      }(env.checkpoint)
    }
    keeps.foreach(k => survivors += pass.calls.last -> k)
    val semKeeps = keeps.flatMap { k =>
      stage("semdedup") {
        val emb = env.checkpoint(embeddings.join(k.select($"doc_id".as("vec_id")), "vec_id"))
        Similarity.semdedupOf(spark, emb).filter(!$"keep")
          .select($"vec_id".as("doc_id"))
      } { drops => env.checkpoint(k.join(drops, Seq("doc_id"), "left_anti")) }
    }
    semKeeps.foreach(s => survivors += pass.calls.last -> s)
    semKeeps.foreach { s =>
      var packed: org.apache.spark.sql.Row = null
      stage("pack") {
        TextAnalysis.seqPack(spark, docs.join(s, "doc_id"))
          .agg(coalesce(sum($"n_tokens"), lit(0L)), coalesce(sum($"n_packs"), lit(0L)))
      } { agg => packed = agg.collect().head; agg }
      if (packed != null) {
        pass.calls.last.outputs("tokens_out") = packed.getLong(0)
        pass.calls.last.outputs("packs_out") = packed.getLong(1)
      }
    }
    if (survivors.nonEmpty) {
      // each survivor set's docs and text bytes, and the digest of the
      // SemDeDup keep set, from one left join of the corpus with every set
      val marked = survivors.indices.foldLeft(docs.select($"doc_id", octet_length($"text").as("b"))) {
        (acc, i) => acc.join(survivors(i)._2.select($"doc_id", lit(true).as(s"in$i")), Seq("doc_id"), "left")
      }
      val perSet = survivors.indices.flatMap { i =>
        val in = col(s"in$i").isNotNull
        Seq(count(when(in, 1)), coalesce(sum(when(in, $"b")), lit(0L)))
      }
      val last = col(s"in${survivors.size - 1}").isNotNull
      val digest = coalesce(sum(when(last, xxhash64($"doc_id")).cast(DecimalType(38, 0))),
        lit(BigDecimal(0)))
      val row = marked.agg(perSet.head, (perSet.tail :+ digest): _*).collect().head
      survivors.indices.foreach { i =>
        survivors(i)._1.outputs("docs_out") = row.getLong(2 * i)
        survivors(i)._1.outputs("bytes_out") = row.getLong(2 * i + 1)
      }
      if (semKeeps.isDefined) survivors.last._1.digest = row.get(2 * survivors.size).toString
    }
    pass.wallS = pass.calls.map(_.wallS).sum
    env.release()
    pass
  }

  // ---- main --------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val env = new Env(spark, opts)
    val curation = opts.workload == "curation"
    val defs = if (curation) Nil else queryDefs(opts.workload)
    def runPass(i: Int, kind: String): PassRec =
      if (curation) curationPass(env, i, kind) else queryPass(env, defs, i, kind)

    val passes = mutable.ArrayBuffer.empty[PassRec]
    val warm = runPass(0, "warmup")
    passes += warm
    val coldBuildS = ColdBuilds.snapshot.values.sum

    /** Timed passes from index `first` until `seconds` have elapsed, at
      * least `minPasses`. In a traced run the passes go untraced, traced,
      * traced, untraced, so both kinds sit at the same mean distance from
      * the warm-up and their difference is the tracing cost.
      */
    def timedLoop(first: Int, seconds: Double, minPasses: Int, traced: Int => Boolean): Unit = {
      val t0 = System.nanoTime()
      var i = first
      var last = 0.0
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (i - first < minPasses || elapsed + last / 2 < seconds) {
        env.traced = traced(i - first)
        if (env.traced) env.tracer.install()
        val startMs = System.currentTimeMillis()
        val p = runPass(i, if (env.traced) "traced" else "timed")
        if (env.traced) {
          env.tracer.span(s"pass$i", "", "pass", startMs, System.currentTimeMillis())
          env.tracer.uninstall()
        }
        passes += p
        last = p.wallS
        i += 1
      }
      env.traced = false
    }
    // traced runs make exactly four passes, so two runs of one seed trace
    // the same passes and their counts can be compared
    if (opts.trace) {
      (1 to SettlePasses).foreach(i => passes += runPass(i, "settle"))
      timedLoop(SettlePasses + 1, seconds = 0, minPasses = 4, traced = k => k == 1 || k == 2)
    } else timedLoop(1, opts.seconds, minPasses = 5, traced = _ => false)
    // the oracle map tools/check_oracle.py replays next to the check outputs
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(opts.checkOut))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts.checkOut, "oracle_sql.json"),
      Json.obj(defs.collect { case QueryDef(n, _, Some(sql)) => n -> Json.str(sql) }: _*))

    val json = Json.obj(
      "workload" -> Json.str(opts.workload),
      "seed" -> Json.int(opts.seed),
      "cores" -> Json.num(cores),
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1e6),
      "setup" -> Json.obj(
        "session_s" -> Json.num(sessionS),
        "warmup_s" -> Json.num(warm.wallS),
        "cold_build_s" -> Json.num(coldBuildS)),
      "passes" -> Json.arr(passes.toSeq.map(passJson)),
      "spans" -> Json.arr(env.tracer.spans.toSeq))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts.out), json)
    spark.stop()
  }

  def passJson(p: PassRec): String = Json.obj(
    "index" -> Json.num(p.index),
    "kind" -> Json.str(p.kind),
    "wall_s" -> Json.num(p.wallS),
    "calls" -> Json.arr(p.calls.toSeq.map { c =>
      Json.obj(
        "name" -> Json.str(c.name),
        "layer" -> Json.str(c.layer),
        "ok" -> (if (c.ok) "true" else "false"),
        "err" -> Json.str(c.err),
        "build_s" -> Json.num(c.buildS),
        "exec_s" -> Json.num(c.execS),
        "wall_s" -> Json.num(c.wallS),
        "rows" -> Json.int(c.rows),
        "digest" -> Json.str(c.digest),
        "heap_mb" -> Json.num(c.heapMb),
        "outputs" -> Json.obj(c.outputs.toSeq.map { case (k, v) => k -> Json.int(v) }: _*),
        "counters" -> Json.obj(c.counters.toSeq.map { case (k, v) => k -> Json.num(v) }: _*))
    }))
}

/** Just enough JSON writing for the raw records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def int(n: Long): String = n.toString
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
