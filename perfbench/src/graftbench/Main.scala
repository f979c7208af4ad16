package graftbench

import graft.core.Pipeline
import graft.core.Pipeline.{PipelineConfig, Step, StepStats}
import graft.functions.TextFunctions
import graft.operators.{ConnectedComponents, Dedup, PipelineSteps}
import graft.sources.WetSource
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.io.RandomAccessFile
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.graftbench.ListenerBusDrain
import scala.jdk.CollectionConverters._

/** Runs one crawl workload: the nine pipeline steps over a generated WET
  * corpus, passed over and over for a fixed time, each pass timed and
  * checked. Writes one JSON result file; `perfbench/run.py` prints it.
  *
  * Usage (from the repository root, classpath as built by run.py):
  *   java graftbench.Main --work DIR --seconds S --trace 0|1
  *     --tokenizer word|bpe --vocab-size N --seq-len N --cores N
  *     --t0-ms EPOCH_MS [--expect-rows a=1,b=2 --expect-sha256 HEX]
  *     [--tamper truncate_export]
  */
object Main {

  val Steps: Seq[String] = Pipeline.stepOrder

  /** Directories and files each step writes under the output base. */
  val StepOutputs: Map[String, Seq[String]] = Map(
    "ingest" -> Seq("ingest_parquet"),
    "clean" -> Seq("cleaned_parquet", "dropped_parquet"),
    "quality" -> Seq("quality_parquet"),
    "pii" -> Seq("pii_parquet"),
    "minhash" -> Seq("minhash_parquet"),
    "clustering" -> Seq("deduped_parquet"),
    "train_tokenizer" -> Seq("train_corpus_txt", "vocab_parquet", "bpe_merges_parquet",
      "bpe_vocab_parquet", "unigram_model_parquet"),
    "tokenize" -> Seq("token_packing_parquet"),
    "export" -> Seq("export_tokens.bin", "export_tokens.shards"))

  final case class Opts(work: String, seconds: Double, trace: Boolean, tokenizer: String,
                        vocabSize: Int, seqLen: Int, cores: Int, t0Ms: Long,
                        expectRows: Map[String, Long], expectSha: Option[String],
                        tamper: Option[String])

  def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(
      work = m("work"), seconds = m("seconds").toDouble, trace = m("trace") == "1",
      tokenizer = m("tokenizer"), vocabSize = m("vocab-size").toInt, seqLen = m("seq-len").toInt,
      cores = m("cores").toInt, t0Ms = m("t0-ms").toLong,
      expectRows = m.get("expect-rows").toSeq.flatMap(_.split(",")).map { kv =>
        val Array(k, v) = kv.split("="); k -> v.toLong
      }.toMap,
      expectSha = m.get("expect-sha256"), tamper = m.get("tamper"))
  }

  /** Ingest exactly as `PipelineSteps.IngestStep`, except that shard
    * paths stay relative to the working directory: `WetSource` hashes
    * the path into `doc_id`, and `doc_id` sets the packing order, so an
    * absolute path would tie the exported tokens to the checkout's
    * location. */
  final case class RelativeIngest(shards: Seq[String]) extends Step {
    val name = "ingest"
    def run(spark: SparkSession, cfg: PipelineConfig): StepStats = {
      val dir = Pipeline.stepDir(cfg.outputBase, name)
      WetSource.read(spark, shards).write.mode("overwrite").parquet(dir)
      val out = spark.read.parquet(dir).count()
      StepStats(name, shards.size, out, 0, Map("files" -> shards.size.toString))
    }
  }

  /** Sets the step's name as the Spark job group and records a span. */
  final case class Tagged(inner: Step, spans: Spans) extends Step {
    def name: String = inner.name
    def run(spark: SparkSession, cfg: PipelineConfig): StepStats = {
      spark.sparkContext.setJobGroup(name, name)
      try spans(s"core.Pipeline.$name")(inner.run(spark, cfg))
      finally spark.sparkContext.clearJobGroup()
    }
  }

  final case class Pass(wallS: Double, cpuS: Double, retainedHeapMb: Double, writtenBytes: Long,
                        stats: Seq[StepStats], stepBytes: Map[String, Long],
                        groups: Map[String, GroupTotals], traced: Boolean)

  /** What the generator planted, read back from its manifest. */
  final case class Truth(docs: Long, cleanKept: Long)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val work = Paths.get(o.work)
    val tmp = work.resolve("tmp")
    Files.createDirectories(tmp)
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val result = new CrawlRun(spark, o, work).run()
      Files.write(work.resolve("result.json"), result.getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else if (Files.isRegularFile(p)) Files.size(p)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def sha256(p: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map(b => f"$b%02x").mkString
  }
}

final class CrawlRun(spark: SparkSession, o: Main.Opts, work: Path) {
  import Main._

  private val shardDir = work.resolve("wet")
  private val shards: Seq[String] = {
    val cwd = Paths.get("").toAbsolutePath
    WetSource.discover(shardDir.toString).map(p => cwd.relativize(Paths.get(p)).toString)
  }
  private val wetBytes: Long = shards.map(s => Files.size(Paths.get(s))).sum
  private val listener = new GroupListener
  private val spans = new Spans
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val failures = ArrayBuffer[String]()
  private var exportSha = ""

  private def cfg(out: Path) = PipelineConfig(
    dataDir = shardDir.toString, outputBase = out.toString,
    tokenizer = o.tokenizer, vocabSize = o.vocabSize, seqLen = o.seqLen)

  private def steps(traced: Boolean, input: Seq[String] = shards): Seq[Step] = {
    val all = RelativeIngest(input) +: PipelineSteps.all(shardDir.toString).filterNot(_.name == "ingest")
    if (traced) all.map(Tagged(_, spans)) else all
  }

  /** The generator's manifest: url, planted kind and cluster, and text. */
  private lazy val manifest = spark.read
    .schema("url STRING, kind STRING, cluster INT, text STRING")
    .json(work.resolve("manifest.jsonl").toString)

  /** Oracle counts computed straight from the generator's manifest,
    * independently of the pipeline's ingest. */
  private def truth(): Truth = {
    val row = manifest.agg(count(lit(1)),
      sum(when(TextFunctions.judgeReason(col("text")) === "ok", 1).otherwise(0))).head()
    Truth(row.getLong(0), row.getLong(1))
  }

  private def pass(out: Path, traced: Boolean, input: Seq[String] = shards): Pass = {
    deleteTree(out)
    System.gc()
    if (traced) { ListenerBusDrain(spark.sparkContext); listener.reset() }
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val stats =
      if (traced) spans("run")(Pipeline.run(spark, cfg(out), steps(traced, input)))
      else Pipeline.run(spark, cfg(out), steps(traced, input))
    val t1 = System.nanoTime()
    val c1 = os.getProcessCpuTime
    // heap still in use once the pass is over: what it left cached
    System.gc()
    val retained = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    val groups = if (traced) { ListenerBusDrain(spark.sparkContext); listener.snapshot() } else Map.empty[String, GroupTotals]
    val stepBytes = StepOutputs.map { case (s, names) => s -> names.map(n => dirBytes(out.resolve(n))).sum }
    Pass((t1 - t0) / 1e9, (c1 - c0) / 1e9, retained, dirBytes(out), stats, stepBytes, groups, traced)
  }

  /** Checks one finished pass; returns the failed checks (empty = passed). */
  private def check(p: Pass, out: Path, t: Truth): Seq[String] = {
    val bad = ArrayBuffer[String]()
    val rows = p.stats.map(s => s.step -> s.outputRows).toMap
    def expect(what: String, got: Long, want: Long): Unit =
      if (got != want) bad += s"$what: got $got, want $want"
    expect("ingest rows = generated docs", rows("ingest"), t.docs)
    expect("clean kept = judgeReason count over generated text", rows("clean"), t.cleanKept)

    // clustering removes only planted duplicates, at least one per extra
    // cluster member that reached it
    val m = manifest.select("url", "kind", "cluster")
    val before = spark.read.parquet(out.resolve("minhash_parquet").toString).select("url")
    val after = spark.read.parquet(out.resolve("deduped_parquet").toString).select("url")
    val removed = before.join(after, Seq("url"), "left_anti").join(m, "url")
    val wrong = removed.filter(col("kind") =!= "dup").count()
    val removedN = removed.count()
    val catchable = before.join(m, "url").filter(col("kind") === "dup")
      .groupBy("cluster").count().agg(coalesce(sum(col("count") - 1), lit(0L))).head().getLong(0)
    if (wrong != 0) bad += s"clustering removed $wrong docs that were not planted duplicates"
    if (removedN < catchable) bad += s"clustering removed $removedN docs, planted duplicates $catchable"

    val packed = spark.read.parquet(out.resolve("token_packing_parquet").toString)
      .agg(coalesce(sum(size(col("input_ids")).cast("long")), lit(0L))).head().getLong(0)
    expect("export tokens = packed chunk lengths", rows("export"), packed)
    val bin = out.resolve("export_tokens.bin")
    expect("export_tokens.bin bytes = tokens x 2", if (Files.exists(bin)) Files.size(bin) else -1L, packed * 2)

    o.expectRows.foreach { case (s, n) => expect(s"$s rows at the default seed", rows(s), n) }
    exportSha = if (Files.exists(bin)) sha256(bin) else "missing"
    o.expectSha.foreach { h =>
      if (exportSha != h) bad += s"export_tokens.bin sha256 $exportSha, want $h"
    }
    bad.toSeq
  }

  /** Dedup's internals, called one by one on the minhash handoff of a
    * finished pass, outside its timing. */
  private def dedupProbe(out: Path): Seq[(String, Double, String)] = spans("dedup_probe") {
    val mh = Dedup.MinHashConfig()
    spark.sparkContext.setJobGroup("dedup_probe", "dedup_probe")
    try {
      val sigs = spark.read.parquet(out.resolve("minhash_parquet").toString)
        .select(col("doc_id").as("id"), col("signature")).cache()
      sigs.count()
      val t0 = System.nanoTime()
      val cand = spans("operators.Dedup.candidatePairs") {
        Dedup.candidatePairs(spans("operators.Dedup.bandRows")(Dedup.bandRows(sigs, mh)), mh).cache()
      }
      val nCand = spans("operators.Dedup.candidatePairs.count")(cand.count())
      val verified = Dedup.verifyPairs(cand, sigs, VerifyThreshold).cache()
      val nVer = spans("operators.Dedup.verifyPairs")(verified.count())
      val pairsS = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val comps = spans("operators.ConnectedComponents.runOnStrings") {
        ConnectedComponents.runOnStrings(verified).select("component").distinct().count()
      }
      val ccS = (System.nanoTime() - t1) / 1e9
      Seq(cand, verified, sigs).foreach(_.unpersist())
      Seq(
        ("operators.Dedup.candidate_pairs", nCand.toDouble, "count"),
        ("operators.Dedup.verified_pairs", nVer.toDouble, "count"),
        ("operators.Dedup.useful_ratio", if (nCand == 0) 0.0 else nVer.toDouble / nCand, "ratio"),
        ("operators.Dedup.pairs_s", pairsS, "s"),
        ("operators.ConnectedComponents.components", comps.toDouble, "count"),
        ("operators.ConnectedComponents.s", ccS, "s"))
    } finally spark.sparkContext.clearJobGroup()
  }

  /** Signature-estimated Jaccard at which a candidate pair counts as a
    * real near-duplicate in the probe. */
  val VerifyThreshold = 0.7

  private def packerProbe(out: Path): Seq[(String, Double, String)] = {
    val r = spark.read.parquet(out.resolve("token_packing_parquet").toString)
      .agg(coalesce(sum(size(col("input_ids")).cast("long")), lit(0L)), count(lit(1))).head()
    val tokens = r.getLong(0)
    val chunks = r.getLong(1)
    Seq(("operators.Packer.tokens", tokens.toDouble, "count"),
      ("operators.Packer.fill_ratio", if (chunks == 0) 0.0 else tokens.toDouble / (chunks * o.seqLen), "ratio"))
  }

  def run(): String = {
    val tw = System.currentTimeMillis()
    // one untimed warm-up pass over one shard: class loading, code
    // generation, JIT and Spark's lazy set-up
    val warm = work.resolve("out").resolve("warmup")
    pass(warm, traced = false, shards.take(1))
    deleteTree(warm)
    val tt = System.currentTimeMillis()
    val t = truth()
    val setupS = (System.currentTimeMillis() - o.t0Ms) / 1e3
    System.err.println(f"[perfbench] setup ${setupS}%.1f s: until Spark ready ${(tw - o.t0Ms) / 1e3}%.1f s, " +
      f"warm-up ${(tt - tw) / 1e3}%.1f s, oracle counts ${(System.currentTimeMillis() - tt) / 1e3}%.1f s")

    if (o.trace) spark.sparkContext.addSparkListener(listener)
    val passes = ArrayBuffer[Pass]()
    val start = System.nanoTime()
    var i = 0
    var failedPasses = 0
    var lastTraced: Option[Path] = None
    // a traced run alternates traced and untraced passes, traced first;
    // the difference of their medians is the tracing overhead. The first
    // pass after the warm-up runs a little slower, so with two passes the
    // overhead reads high rather than low.
    def enough = (System.nanoTime() - start) / 1e9 >= o.seconds && (!o.trace || i % 2 == 0)
    while (i == 0 || !enough) {
      val traced = o.trace && i % 2 == 0
      val out = work.resolve("out").resolve(s"pass-$i")
      val p = pass(out, traced)
      if (o.tamper.contains("truncate_export")) {
        val f = new RandomAccessFile(out.resolve("export_tokens.bin").toFile, "rw")
        try f.setLength(math.max(0L, f.length() - 2)) finally f.close()
      }
      val tc = System.nanoTime()
      val bad = check(p, out, t)
      System.err.println(f"[perfbench] pass $i${if (traced) " (traced)" else ""}: ${p.wallS}%.2f s, " +
        f"checks ${(System.nanoTime() - tc) / 1e9}%.1f s")
      if (bad.nonEmpty) { failedPasses += 1; failures ++= bad.map(b => s"pass $i: $b") }
      passes += p
      // keep the latest traced pass's output for the Dedup and Packer probes
      if (traced) { lastTraced.foreach(deleteTree); lastTraced = Some(out) }
      else deleteTree(out)
      i += 1
    }
    failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val wall = median(passes.map(_.wallS))
        Seq(
          ("wall_s", wall, "s"),
          ("docs_per_s", median(passes.map(p => t.docs / p.wallS)), "1/s"),
          ("cpu_s", median(passes.map(_.cpuS)), "s"),
          ("retained_heap_mb", median(passes.map(_.retainedHeapMb)), "MB"),
          ("written_bytes_per_input_byte", median(passes.map(_.writtenBytes.toDouble / wetBytes)), "ratio"),
          ("setup_s", setupS, "s"))
      } else {
        val traced = passes.filter(_.traced)
        val untraced = passes.filterNot(_.traced)
        def stepMed(f: (Pass, String) => Double)(s: String) = median(traced.map(f(_, s)))
        val perStep = Steps.flatMap { s =>
          val st = (p: Pass, s: String) => p.stats.find(_.step == s).get
          val g = (p: Pass, s: String) => p.groups.getOrElse(s, new GroupTotals)
          Seq(
            (s"core.Pipeline.$s.s", stepMed(st(_, _).elapsedSec)(s), "s"),
            (s"core.Pipeline.$s.rows_out", stepMed(st(_, _).outputRows.toDouble)(s), "count"),
            (s"core.Pipeline.$s.bytes_written", stepMed((p, s) => p.stepBytes(s).toDouble)(s), "bytes"),
            (s"spark.$s.task_cpu_s", stepMed(g(_, _).cpuNs / 1e9)(s), "s"),
            (s"spark.$s.shuffle_bytes", stepMed(g(_, _).shuffleBytes.toDouble)(s), "bytes"),
            (s"spark.$s.spill_bytes", stepMed(g(_, _).spillBytes.toDouble)(s), "bytes"),
            (s"spark.$s.tasks", stepMed(g(_, _).tasks.toDouble)(s), "count"))
        }
        val out = lastTraced.get
        val probes = dedupProbe(out) ++ packerProbe(out)
        deleteTree(out)
        val tracedWall = median(traced.map(_.wallS))
        val untracedWall = median(untraced.map(_.wallS))
        // task GC time is summed over the whole pass: a short step often
        // sees no collection at all
        val gcS = median(traced.map(_.groups.values.map(_.gcMs).sum / 1e3))
        perStep ++ Seq(("spark.run.gc_s", gcS, "s"),
          ("sources.WetSource.bytes_read", wetBytes.toDouble, "bytes")) ++ probes ++ Seq(
          ("trace.traced_wall_s", tracedWall, "s"),
          ("trace.untraced_wall_s", untracedWall, "s"),
          ("trace.overhead_s", tracedWall - untracedWall, "s"))
      }
    if (o.trace) Files.write(work.resolve("spans.json"), spans.toJson.getBytes(StandardCharsets.UTF_8))
    val detail = passes.last.stats.map(s => s"${s.step}=${s.outputRows}").mkString(",")
    Json.obj(Seq(
      "correct" -> (if (failures.isEmpty) "true" else "false"),
      "attempted" -> passes.size.toString,
      "failed" -> failedPasses.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "rows" -> Json.str(detail),
      "export_sha256" -> Json.str(exportSha)))
  }
}
