package graft.core

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Pipeline orchestration: step registry, directory-handoff contract,
  * resume-from, and per-step stats checkpointing — the reference's
  * orchestrator surface (reference: src/llm_data_pipeline/
  * pipeline.py:32-196, core.py:240-292,359-528) on one engine.
  *
  * Differences by design:
  *  - the row-local steps run as one fused segment: inside one `run`,
  *    the clean → quality → pii → minhash handoffs stay lazy DataFrames,
  *    so the four steps are one Spark job over clean's persisted judge
  *    that writes only `minhash_parquet` (plus clean's
  *    `dropped_parquet`). The segment's boundaries — `ingest_parquet`
  *    before it, `minhash_parquet` and every later directory after it —
  *    are written, and each is materialized ONCE (write, then count the
  *    written files); the reference double-executes every step's plan
  *    (count then write, reference: core.py:452-453). A step run on its
  *    own, outside `run`, reads and writes its own directory;
  *  - steps are `DataFrame -> DataFrame` on a shared SparkSession — no
  *    second execution engine for tokenize/export (the reference swaps
  *    to HF-datasets multiprocessing there, reference: tokenizer/
  *    run.py:543-549).
  */
object Pipeline {

  case class PipelineConfig(
      dataDir: String,                    // raw input (WET files) for ingest
      outputBase: String,
      limit: Option[Int] = None,          // per-step record cap (debug)
      langs: Seq[String] = Seq("en", "zh"),
      langThreshold: Double = 0.3,
      keepPiiStats: Boolean = false,
      seqLen: Int = 4096,
      vocabSize: Int = 32000,
      tokenizer: String = "word",       // "word" | "bpe" | "unigram"
      // SentencePiece training knobs (reference train.py:111-134 uses
      // character_coverage=0.9995, input_sentence_size=5_000_000);
      // engine defaults are the identity so fixture-trained artifacts
      // stay reproducible — set the reference values to match it
      characterCoverage: Double = 1.0,
      inputSentenceSize: Option[Int] = None,
      // Kudo's real forward-backward E-step for the unigram trainer;
      // default false = Viterbi hard-EM (the bit-reproducible path
      // the oracle gates and committed fixtures pin)
      unigramSoftEm: Boolean = false,
      exportDtype: String = "uint16",
      // optional trained-LID artifact (operators.TrainedLid.writeModel);
      // when set, QualityStep scores with the model instead of the
      // stopword heuristic — the reference's swappable lid.176.bin seam
      lidModelPath: Option[String] = None,
      // when lidModelPath is unset, QualityStep defaults to the
      // committed 48-language artifact (fixtures/models/lid48) if it
      // resolves — the reference's bundled-model default; set false to
      // force the stopword heuristic (e.g. for corpora whose vocabulary
      // is out-of-domain for the committed fixture model)
      defaultLidArtifact: Boolean = true)

  case class StepStats(step: String, inputRows: Long, outputRows: Long,
                       elapsedSec: Double = 0, extra: Map[String, String] = Map.empty)

  /** Directory-name conventions (reference: core.py:279-286). */
  def stepDir(base: String, step: String): String = step match {
    case "clean"      => s"$base/cleaned_parquet"
    case "clustering" => s"$base/deduped_parquet"
    case "tokenize"   => s"$base/token_packing_parquet"
    case other        => s"$base/${other}_parquet"
  }

  /** Which directory each step reads (previous step's output). */
  val stepInput: Map[String, String] = Map(
    "clean" -> "ingest", "quality" -> "clean", "pii" -> "quality",
    "minhash" -> "pii", "clustering" -> "minhash",
    "train_tokenizer" -> "clustering", "tokenize" -> "clustering",
    "export" -> "tokenize")

  trait Step {
    def name: String
    def run(spark: SparkSession, cfg: PipelineConfig): StepStats
  }

  val stepOrder: Seq[String] = Seq("ingest", "clean", "quality", "pii",
    "minhash", "clustering", "train_tokenizer", "tokenize", "export")

  /** Steps that compute each output row from one input row, with no
    * shuffle: inside one `run` their input stays a lazy DataFrame. */
  private val rowLocalSteps: Set[String] = Set("quality", "pii", "minhash")

  /** The fused handoffs of one `run`, keyed by step name: `deferred`
    * names the steps whose output a selected row-local step reads. */
  private final class Segment(val deferred: Set[String]) {
    val handoffs = mutable.Map.empty[String, DataFrame]
    val rows = mutable.Map.empty[String, Observation]
    val pinned = ArrayBuffer.empty[DataFrame]
    def release(): Unit = { pinned.foreach(_.unpersist()); pinned.clear() }
  }

  private val active = new ThreadLocal[Segment]

  private def deferring(step: String): Option[Segment] =
    Option(active.get).filter(_.deferred(step))

  private def fsPath(spark: SparkSession, dir: String): (FileSystem, HPath) = {
    val p = new HPath(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** A step's input: its producer's in-memory handoff inside a fused
    * segment, else the producer's directory capped at `cfg.limit`. An
    * in-memory input is already capped upstream, and a limit inside the
    * lineage would add a single-partition exchange to the fused job. */
  def readStep(spark: SparkSession, cfg: PipelineConfig, step: String): DataFrame =
    Option(active.get).flatMap(_.handoffs.remove(stepInput(step))).getOrElse {
      val df = spark.read.parquet(stepDir(cfg.outputBase, stepInput(step)))
      cfg.limit.map(df.limit).getOrElse(df)
    }

  /** Writes a step's output to its directory and returns the row count
    * of the written files — no second execution of the lineage. Inside
    * a fused segment the output stays a lazy DataFrame for its consumer
    * instead, counted by an `Observation` when the segment's boundary
    * is written: this returns -1 and `run` fills in the count. The
    * directory an earlier run left is deleted, so a later resume cannot
    * read rows that do not match the new boundary. */
  def writeStep(df: DataFrame, cfg: PipelineConfig, step: String): Long = {
    val dir = stepDir(cfg.outputBase, step)
    deferring(step) match {
      case Some(seg) =>
        val rows = Observation()
        seg.handoffs(step) = df.observe(rows, count(lit(1)).as("rows"))
        seg.rows(step) = rows
        val (fs, p) = fsPath(df.sparkSession, dir)
        fs.delete(p, true)
        -1L
      case None =>
        df.write.mode("overwrite").parquet(dir)
        df.sparkSession.read.parquet(dir).count()
    }
  }

  /** Unpersists `df`, which `step`'s output is computed from: at once
    * when that output was written; at the end of the fused segment when
    * it stayed in memory, because the segment's boundary write reads it. */
  def release(df: DataFrame, step: String): Unit = deferring(step) match {
    case Some(seg) => seg.pinned += df
    case None      => df.unpersist()
  }

  /** Where to resume when `step`'s input directory is absent: the
    * nearest producer whose own input a run always writes. */
  private def resumePoint(step: String): String =
    Iterator.iterate(stepInput(step))(stepInput).dropWhile(rowLocalSteps).next()

  private def statsJson(all: Seq[StepStats]): String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    all.map { st =>
      val extra = st.extra.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString(", ")
      s"""{"step": ${q(st.step)}, "input_rows": ${st.inputRows}, "output_rows": ${st.outputRows}, "elapsed_sec": ${st.elapsedSec}${if (extra.nonEmpty) ", " + extra else ""}}"""
    }.mkString("[\n", ",\n", "\n]")
  }

  /** Replaces `pipeline_stats.json` by a rename, so a crash mid-write
    * leaves the previous version, never a truncated one. */
  private def writeStats(cfg: PipelineConfig, all: Seq[StepStats]): Unit = {
    val tmp = Paths.get(cfg.outputBase, ".pipeline_stats.json.tmp")
    Files.write(tmp, statsJson(all).getBytes("UTF-8"))
    Files.move(tmp, Paths.get(cfg.outputBase, "pipeline_stats.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Run a sub-sequence of steps (all by default, or resume-from), with
    * stats persisted to `pipeline_stats.json` after every written step
    * (reference: pipeline.py:144-186). A step whose output a selected
    * row-local step reads hands it over in memory; its row count is
    * filled in, and the stats file rewritten, once the step that ends
    * the fused segment has written its directory. */
  def run(spark: SparkSession, cfg: PipelineConfig, steps: Seq[Step],
          resumeFrom: Option[String] = None): Seq[StepStats] = {
    val ordered = steps.sortBy(s => stepOrder.indexOf(s.name))
    val selected = resumeFrom match {
      case Some(from) => ordered.dropWhile(_.name != from)
      case None       => ordered
    }
    val names = selected.map(_.name).toSet
    for (s <- selected; in <- stepInput.get(s.name) if !names(in)) {
      val dir = stepDir(cfg.outputBase, in)
      val (fs, p) = fsPath(spark, dir)
      if (!fs.exists(p))
        throw new IllegalArgumentException(s"step '${s.name}' reads $dir, which does not " +
          s"exist (a full run keeps the clean → quality → pii → minhash handoffs in " +
          s"memory): resume from '${resumePoint(s.name)}'")
    }
    Files.createDirectories(Paths.get(cfg.outputBase))
    val seg = new Segment(names.filter(rowLocalSteps).map(stepInput).filter(names))
    active.set(seg)
    val acc = new ArrayBuffer[StepStats]()
    try selected.foreach { step =>
      val t0 = System.nanoTime()
      val st0 = step.run(spark, cfg)
      acc += st0.copy(elapsedSec = (System.nanoTime() - t0) / 1e9)
      if (!seg.deferred(step.name)) {
        // a written step ends the segment: its Observations are final
        if (seg.handoffs.nonEmpty) throw new IllegalStateException(
          s"in-memory handoffs never read: ${seg.handoffs.keys.mkString(", ")}")
        seg.rows.foreach { case (name, rows) =>
          val i = acc.indexWhere(_.step == name)
          acc(i) = acc(i).copy(outputRows = rows.get("rows").asInstanceOf[Long])
        }
        seg.rows.clear()
        seg.release()
        writeStats(cfg, acc.toSeq)
      }
    } finally {
      seg.release()
      active.remove()
    }
    acc.toSeq
  }
}
