package graft

import graft.core.Pipeline
import graft.operators.PipelineSteps
import graft.sources.WetSource
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream
import scala.jdk.CollectionConverters._

/** Golden end-to-end: synthetic WET fixture → all nine steps → packed
  * binary, asserting schema/row contracts per stage (SURVEY §5 plan). */
class PipelineSpec extends SparkSpec {

  private def wetRecord(url: String, date: String, rid: String, text: String): String = {
    val payload = text.getBytes(StandardCharsets.UTF_8)
    s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: $url\r\n" +
      s"WARC-Date: $date\r\nWARC-Record-ID: <urn:uuid:$rid>\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n" + text + "\r\n\r\n"
  }

  private def writeWetGz(path: Path, records: Seq[String]): Unit = {
    val os = new GZIPOutputStream(new FileOutputStream(path.toFile))
    records.foreach(r => os.write(r.getBytes(StandardCharsets.UTF_8)))
    os.close()
  }

  private def mkText(seedWord: String): String =
    // no shared template across seeds: texts from different seeds must
    // NOT be LSH-near-duplicates of each other
    (1 to 60).map(i => s"$seedWord$i ${seedWord}q$i ${seedWord}z$i the").mkString(" ")

  test("wet parser roundtrip honors type filter, min chars, truncation, doc ids") {
    val dir = Files.createTempDirectory("wet")
    val recs = Seq(
      wetRecord("http://a.example/1", "2025-01-01T00:00:00Z", "r1", mkText("alpha")),
      wetRecord("http://a.example/2", "2025-01-01T00:00:01Z", "r2", "too short"),
      // non-conversion record must be skipped
      wetRecord("http://a.example/3", "2025-01-01T00:00:02Z", "r3", mkText("beta"))
        .replace("WARC-Type: conversion", "WARC-Type: request"),
      wetRecord("http://a.example/4", "2025-01-01T00:00:03Z", "r4", "x" * 1000))
    writeWetGz(dir.resolve("f1.wet.gz"), recs)
    val cfg = WetSource.WetConfig(minChars = 100, maxChars = 500)
    val docs = WetSource.readDir(spark, dir.toString, cfg).collect()
    assert(docs.length == 2)
    val byUrl = docs.map(r => r.getString(1) -> r).toMap
    assert(byUrl.contains("http://a.example/1"))
    assert(byUrl("http://a.example/4").getString(4).length == 500) // truncated
    assert(docs.map(_.getString(0)).distinct.length == 2)          // unique sha1 ids
    assert(docs.forall(_.getString(0).length == 40))
  }

  test("wet DataSource V2: spark.read.format(\"wet\") reads a directory") {
    val dir = Files.createTempDirectory("wetv2")
    writeWetGz(dir.resolve("a.wet.gz"), Seq(
      wetRecord("http://v2/1", "2025-01-01T00:00:00Z", "v1", mkText("alpha")),
      wetRecord("http://v2/2", "2025-01-01T00:00:01Z", "v2", mkText("beta"))))
    writeWetGz(dir.resolve("b.wet.gz"), Seq(
      wetRecord("http://v2/3", "2025-01-01T00:00:02Z", "v3", mkText("gamma"))))
    val df = spark.read.format("wet").option("minChars", "100").load(dir.toString)
    assert(df.schema.fieldNames.toSeq ==
      Seq("doc_id", "url", "warc_date", "source_path", "text"))
    assert(df.count() == 3)
    // partition-per-file parallelism
    assert(df.rdd.getNumPartitions == 2)
    // usable as a plain table: project + filter compose
    assert(df.filter(col("url") === "http://v2/2").select("text").head()
      .getString(0).startsWith("beta1"))
    // maxFiles option caps the listing
    assert(spark.read.format("wet").option("minChars", "100")
      .option("maxFiles", "1").load(dir.toString).count() == 2)
  }

  test("truncated wet record is dropped, valid earlier records survive") {
    val dir = Files.createTempDirectory("wet_trunc")
    val good = wetRecord("http://t/1", "2025-01-01T00:00:00Z", "g1", mkText("good"))
    val bad = wetRecord("http://t/2", "2025-01-01T00:00:01Z", "g2", mkText("bad"))
    val full = (good + bad).getBytes(StandardCharsets.UTF_8)
    // cut the stream 100 bytes into the second record's payload
    val cut = full.take(good.getBytes(StandardCharsets.UTF_8).length + 200)
    val os = new GZIPOutputStream(new FileOutputStream(dir.resolve("t.wet.gz").toFile))
    os.write(cut); os.close()
    val docs = WetSource.readDir(spark, dir.toString, WetSource.WetConfig(minChars = 100)).collect()
    assert(docs.length == 1)
    assert(docs.head.getString(1) == "http://t/1")
    assert(!docs.head.getString(4).contains("\u0000"))
  }

  test("full nine-step pipeline on fixture produces packed binary") {
    val dataDir = Files.createTempDirectory("wetdata")
    val outBase = Files.createTempDirectory("pipeout").toString
    writeFixture(dataDir)

    val cfg = Pipeline.PipelineConfig(
      dataDir = dataDir.toString, outputBase = outBase,
      langs = Seq("en", "und"), langThreshold = 0.0,
      // the WET fixture's synthetic vocabulary is out-of-domain for the
      // committed 40-lang artifact; the heuristic is the right labeler
      defaultLidArtifact = false,
      seqLen = 64, vocabSize = 500, exportDtype = "uint16")
    val stats = Pipeline.run(spark, cfg, PipelineSteps.all(dataDir.toString))
    val byStep = stats.map(s => s.step -> s).toMap

    assert(byStep("ingest").outputRows == 6)
    assert(byStep("clean").outputRows == 5)       // digit doc dropped (low_language_signal)
    assert(byStep("clustering").outputRows == 3)  // dup + near-dup removed
    assert(byStep("export").outputRows > 0)

    // schema contracts per stage: clean → quality → pii → minhash run as
    // one fused segment, so only its boundary and clean's dropped rows
    // are on disk, and minhash_parquet carries clean's columns
    Seq("cleaned_parquet", "quality_parquet", "pii_parquet").foreach { d =>
      assert(!Files.exists(Path.of(outBase, d)), s"$d written by a fused run")
    }
    val dropped = spark.read.parquet(s"$outBase/dropped_parquet")
    assert(dropped.count() == 1)
    val minhash = spark.read.parquet(s"$outBase/minhash_parquet")
    assert(Seq("doc_id", "url", "warc_date", "source_path", "text", "kept", "drop_reason",
      "m_non_ws", "m_alpha_cjk", "m_punct", "m_dup_line").forall(minhash.columns.contains))
    assert(minhash.columns.contains("signature") && minhash.columns.contains("length"))
    assert(minhash.selectExpr("size(signature)").head().getInt(0) == 128)
    val packed = spark.read.parquet(s"$outBase/token_packing_parquet")
    assert(packed.selectExpr("size(input_ids)").collect().forall(_.getInt(0) == 64))

    // binary length == chunks * seqLen * 2 bytes
    val nChunks = packed.count()
    val bin = Files.size(Path.of(s"$outBase/export_tokens.bin"))
    assert(bin == nChunks * 64 * 2, s"bin=$bin chunks=$nChunks")
    // and the bytes decode back to exactly the packed ids (little-endian u16)
    val allIds = packed.orderBy("part_id", "chunk_in_part")
      .collect().flatMap(_.getSeq[Int](2))
    val bytes = Files.readAllBytes(Path.of(s"$outBase/export_tokens.bin"))
    val decoded = bytes.grouped(2).map(b => ((b(0) & 0xff) | ((b(1) & 0xff) << 8))).toArray
    assert(decoded.toSeq == allIds.toSeq)
    // executor-side shards + manifest: concat of shards in partition order
    // must equal the final file byte-for-byte
    val shardDir = Path.of(s"$outBase/export_tokens.shards")
    val shardFiles = Files.list(shardDir).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".bin")).sortBy(_.getFileName.toString)
    assert(shardFiles.nonEmpty)
    val shardConcat = shardFiles.flatMap(p => Files.readAllBytes(p).toSeq)
    assert(shardConcat == bytes.toSeq, "shard concat != export file")
    val manifest = Files.readString(shardDir.resolve("manifest.json"))
    assert(manifest.contains("\"tokens\":") && manifest.startsWith("["))

    // manifest reader: the concat file is optional — a consumer gets
    // identical bytes (and arbitrary token ranges) from the shards alone
    val hconf = spark.sparkContext.hadoopConfiguration
    val shardsUri = shardDir.toString
    val entries = graft.sources.ExportReader.readManifest(hconf, shardsUri)
    assert(entries.map(_.name) == shardFiles.map(_.getFileName.toString))
    assert(entries.map(_.tokens).sum == allIds.length.toLong)
    assert(graft.sources.ExportReader.totalTokens(hconf, shardsUri) == allIds.length.toLong)
    val streamed = {
      val is = graft.sources.ExportReader.open(hconf, shardsUri)
      try Iterator.continually(is.read()).takeWhile(_ >= 0).map(_.toByte).toSeq
      finally is.close()
    }
    assert(streamed == bytes.toSeq, "manifest-ordered shard stream != concat file")
    // a mid-stream slice crossing a shard boundary decodes the same ids
    val bnd = entries.find(e => e.tokenOffset >= 3 && e.tokens > 0)
      .map(_.tokenOffset.toInt).getOrElse(3)
    val slice = graft.sources.ExportReader.tokenSlice(
      hconf, shardsUri, "uint16", bnd - 3, 7)
    assert(slice.toSeq == allIds.slice(bnd - 3, bnd + 4).toSeq)
    assert(graft.sources.ExportReader.tokenSlice(hconf, shardsUri, "uint16",
      0, allIds.length).toSeq == allIds.toSeq)
    intercept[IllegalArgumentException] {
      graft.sources.ExportReader.tokenSlice(hconf, shardsUri, "uint16",
        allIds.length.toLong - 1, 2)
    }

    // stats json checkpoint exists and is valid-ish
    val js = Files.readString(Path.of(s"$outBase/pipeline_stats.json"))
    assert(js.contains("\"step\": \"export\""))

    // resume-from: re-run just export reusing prior outputs
    val stats2 = Pipeline.run(spark, cfg, PipelineSteps.all(dataDir.toString), Some("export"))
    assert(stats2.map(_.step) == Seq("export"))

    // int32 export path: same token stream, 4 bytes per id
    val cfg32 = cfg.copy(exportDtype = "int32")
    Pipeline.run(spark, cfg32, PipelineSteps.all(dataDir.toString), Some("export"))
    val bin32 = Files.readAllBytes(Path.of(s"$outBase/export_tokens.bin"))
    assert(bin32.length == allIds.length * 4)
    val decoded32 = bin32.grouped(4).map(b =>
      (b(0) & 0xff) | ((b(1) & 0xff) << 8) | ((b(2) & 0xff) << 16) | ((b(3) & 0xff) << 24)).toSeq
    assert(decoded32 == allIds.toSeq)
    // manifest reader over the rewritten int32 shards
    assert(graft.sources.ExportReader.tokenSlice(hconf, shardsUri, "int32",
      0, allIds.length).toSeq == allIds.toSeq)

    // unigram tokenizer path: resume from train_tokenizer with the
    // unigram-LM model — ids stay under the vocab budget, packing and
    // export flow end-to-end
    val cfgUni = cfg.copy(tokenizer = "unigram")
    Pipeline.run(spark, cfgUni, PipelineSteps.all(dataDir.toString),
      Some("train_tokenizer"))
    val packedU = spark.read.parquet(s"$outBase/token_packing_parquet")
    assert(packedU.count() > 0)
    assert(packedU.selectExpr("size(input_ids)").collect().forall(_.getInt(0) == 64))
    val idsU = packedU.orderBy("part_id", "chunk_in_part")
      .collect().flatMap(_.getSeq[Int](2))
    assert(idsU.forall(id => id >= 0 && id < 500))
    assert(idsU.exists(_ >= graft.operators.UnigramTrainer.FirstPieceId),
      "at least one learned piece id in the stream")
  }

  /** Two WET files: an exact duplicate, a near duplicate and one doc
    * clean drops (low language signal). */
  private def writeFixture(dataDir: Path): Unit = {
    val t1 = mkText("alpha"); val t2 = mkText("omega")
    writeWetGz(dataDir.resolve("a.wet.gz"), Seq(
      wetRecord("http://x/1", "2025-01-01T00:00:00Z", "r1", t1),
      wetRecord("http://x/2", "2025-01-01T00:00:01Z", "r2", t2),
      wetRecord("http://x/3", "2025-01-01T00:00:02Z", "r3", t1)))
    writeWetGz(dataDir.resolve("b.wet.gz"), Seq(
      wetRecord("http://x/4", "2025-01-01T00:00:03Z", "r4", t2 + " extra tail words"),
      wetRecord("http://x/5", "2025-01-01T00:00:04Z", "r5", mkText("gamma")),
      wetRecord("http://x/6", "2025-01-01T00:00:05Z", "r6", "1 2 3 4 5 6 7 8 9 0 " * 20)))
  }

  private def fixtureCfg(dataDir: Path, out: String) = Pipeline.PipelineConfig(
    dataDir = dataDir.toString, outputBase = out,
    langs = Seq("en", "und"), langThreshold = 0.0, defaultLidArtifact = false,
    seqLen = 64, vocabSize = 500)

  /** Hides the step's type, as a caller's tagging or timing wrapper does. */
  private case class PassThrough(inner: Pipeline.Step) extends Pipeline.Step {
    def name: String = inner.name
    def run(spark: SparkSession, cfg: Pipeline.PipelineConfig): Pipeline.StepStats =
      inner.run(spark, cfg)
  }

  test("fused run matches the steps run one at a time; wrapped steps still fuse") {
    val dataDir = Files.createTempDirectory("wetparity")
    writeFixture(dataDir)
    def cfg(out: String) = fixtureCfg(dataDir, out)
    val fusedOut = Files.createTempDirectory("fused").toString
    val soloOut = Files.createTempDirectory("solo").toString
    val steps = PipelineSteps.all(dataDir.toString)
    val fused = Pipeline.run(spark, cfg(fusedOut), steps)
    val solo = steps.map(_.run(spark, cfg(soloOut)))
    // everything but the timing; export's path extra names the output base
    def rows(stats: Seq[Pipeline.StepStats], out: String) = stats.map(s =>
      (s.step, s.inputRows, s.outputRows, s.extra.map { case (k, v) => k -> v.replace(out, "OUT") }))
    assert(rows(fused, fusedOut) == rows(solo, soloOut))
    assert(fused.map(_.step) == Pipeline.stepOrder)
    assert(fused.find(_.step == "clean").get.extra("dropped") == "1")
    def minhash(out: String) =
      spark.read.parquet(s"$out/minhash_parquet").orderBy("doc_id").collect().toSeq
    assert(minhash(fusedOut) == minhash(soloOut))
    assert(minhash(fusedOut).size == fused.find(_.step == "minhash").get.outputRows)
    def export(out: String) = Files.readAllBytes(Path.of(out, "export_tokens.bin")).toSeq
    assert(export(fusedOut) == export(soloOut))
    // the stats file holds the filled-in counts, and no temp file is left
    val js = spark.read.option("multiLine", "true").json(s"$fusedOut/pipeline_stats.json")
      .select("step", "output_rows").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(js == fused.map(s => s.step -> s.outputRows).toMap)
    assert(Files.list(Path.of(fusedOut)).iterator().asScala.forall(!_.toString.endsWith(".tmp")))

    // fusion is keyed by step name: wrapped steps fuse too, and a fused
    // run deletes the handoff dirs the one-at-a-time run left behind
    val wrapped = Pipeline.run(spark, cfg(soloOut), steps.map(PassThrough))
    assert(rows(wrapped, soloOut) == rows(solo, soloOut))
    Seq("cleaned_parquet", "quality_parquet", "pii_parquet").foreach { d =>
      assert(!Files.exists(Path.of(soloOut, d)), s"$d left after a fused run")
    }
    assert(Files.exists(Path.of(soloOut, "dropped_parquet")))
    assert(minhash(soloOut) == minhash(fusedOut))
  }

  test("resume from a fused step fails fast when its input dir is absent") {
    val dataDir = Files.createTempDirectory("wetresume")
    writeFixture(dataDir)
    val out = Files.createTempDirectory("resume").toString
    val cfg = fixtureCfg(dataDir, out)
    val steps = PipelineSteps.all(dataDir.toString)
    Pipeline.run(spark, cfg, steps.take(5)) // ingest … minhash
    Seq("quality", "pii", "minhash").foreach { from =>
      val e = intercept[IllegalArgumentException](Pipeline.run(spark, cfg, steps, Some(from)))
      val missing = Pipeline.stepDir(out, Pipeline.stepInput(from))
      assert(e.getMessage.contains(missing) && e.getMessage.contains("resume from 'clean'"),
        e.getMessage)
    }
    // the written boundaries still resume
    assert(Pipeline.run(spark, cfg, steps, Some("clustering")).head.outputRows == 3)
  }

  test("N equal WET files ingest into N non-empty output files, without a shuffle") {
    val dataDir = Files.createTempDirectory("wetbalance")
    (0 until 8).foreach { f =>
      writeWetGz(dataDir.resolve(f"s$f%02d.wet.gz"), (0 until 5).map { i =>
        wetRecord(s"http://b/$f/$i", "2025-01-01T00:00:00Z", s"b$f-$i", mkText(s"w${f}x$i"))
      })
    }
    val out = Files.createTempDirectory("balance").toString
    val st = PipelineSteps.IngestStep().run(spark,
      Pipeline.PipelineConfig(dataDir = dataDir.toString, outputBase = out))
    assert(st.outputRows == 40)
    val parts = Files.list(Path.of(out, "ingest_parquet")).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    assert(parts.map(p => spark.read.parquet(p).count()).sorted == Seq.fill(8)(5L))
    val docs = WetSource.read(spark, WetSource.discover(dataDir.toString))
    assert(docs.rdd.getNumPartitions == 8)
    assert(!docs.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("CLI flags parse into the pipeline config, tokenizer knobs included") {
    val (cfg, flags, opts) = PipelineMain.parseConfig(Array(
      "--data-dir", "/in", "--output-base", "/out", "--limit", "100",
      "--tokenizer", "unigram", "--character-coverage", "0.9995",
      "--input-sentence-size", "5000000", "--export-dtype", "int32",
      "--enable-ner", "--steps", "ingest,clean", "--resume-from", "clean"))
    assert(cfg.dataDir == "/in" && cfg.outputBase == "/out")
    assert(cfg.limit.contains(100) && cfg.tokenizer == "unigram")
    assert(cfg.characterCoverage == 0.9995)
    assert(cfg.inputSentenceSize.contains(5000000))
    assert(cfg.exportDtype == "int32" && flags("--enable-ner"))
    // orchestration flags ride the SAME pairing (the standalone flag
    // is filtered before sliding, so it can sit anywhere between pairs)
    assert(opts("--steps") == "ingest,clean" && opts("--resume-from") == "clean")
    // defaults are the identity knobs
    val (d, _, _) = PipelineMain.parseConfig(Array.empty)
    assert(d.tokenizer == "word" && d.characterCoverage == 1.0 &&
      d.inputSentenceSize.isEmpty && d.exportDtype == "uint16")
  }

  test("pii step with NER enabled redacts gated capitalized names") {
    import spark.implicits._
    val outBase = Files.createTempDirectory("piiout").toString
    Seq(
      ("d1", "Contact John Smith at the office"),
      ("d2", "no names in this plain lowercase text"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$outBase/quality_parquet")
    val cfg = Pipeline.PipelineConfig(dataDir = ".", outputBase = outBase)
    PipelineSteps.PiiStep(enableNer = true).run(spark, cfg)
    val out = spark.read.parquet(s"$outBase/pii_parquet").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("d1").contains("<NAME>") && !out("d1").contains("John"))
    assert(out("d2") == "no names in this plain lowercase text")
  }
}
