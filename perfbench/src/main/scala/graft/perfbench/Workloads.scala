package graft.perfbench

import java.io.File
import java.math.BigInteger
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.TextFunctions.{shingles, tokens}
import graft.mr.Jobs
import graft.operators.{Curation, CurationChain}
import graft.sources.{GraftIO, Tables}

/** One benchmark workload: the production job, its correctness gate, and
  * the same work split at its layer boundaries for the traced run. */
trait Workload {
  /** Bytes of generated input the job reads. */
  def inputBytes: Long

  /** Runs the job from the inputs on disk to its result fetched. */
  def job(): Array[Row]

  /** None when `rows` is the right answer, otherwise what is wrong. */
  def check(rows: Array[Row]): Option[String]

  /** Runs the job's layers one span each, every span's output
    * materialized so that the span times only its own work. Returns
    * per-layer metrics and the error of the pass's own result, if any. */
  def spanPass(tr: Tracer, c: Counters): (Map[String, Double], Option[String])
}

object Workload {
  def apply(name: String, spark: SparkSession, data: File, work: File,
      oracle: Option[File], chainOracle: Option[File]): Workload = name match {
    case "wordcount" => new WordCount(spark, data, work)
    case "near_dedup" => new NearDedup(spark, data, oracle.get, chainOracle)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private[perfbench] def mb(bytes: Long): Double = bytes / 1e6

  private[perfbench] def sizeOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(sizeOf).sum
    else f.length()

  /** Times `f` as a span and attaches the listener's counts for it. */
  private[perfbench] def layer[A](tr: Tracer, c: Counters, name: String)(f: => A)
      : (A, Tracer.Span, Counters.Window) = {
    val m = c.mark
    val (a, s) = tr.span(name)(f)
    Counters.drain(SparkSession.active.sparkContext)
    val w = c.since(m)
    s.counts = Map("jobs" -> w.jobs.size.toDouble, "tasks" -> w.tasks.size.toDouble,
      "input_records" -> w.inputRecords.toDouble,
      "shuffle_write_records" -> w.shuffleWriteRecords.toDouble)
    (a, s, w)
  }
}

/** yamr's flagship job: text scan → map (Unicode tokenizer) → combine →
  * hash-partitioned shuffle → reduce → region-file sink → client fetch. */
final class WordCount(spark: SparkSession, data: File, work: File) extends Workload {
  import Workload._

  private val Regions = 8
  private val textDir = new File(data, "text").getPath
  private val outDir = new File(work, "wordcount_out").getPath
  val inputBytes: Long = sizeOf(new File(data, "text"))

  /** The generator's exact token tallies. */
  private val expected: Map[String, Long] =
    Files.readAllLines(new File(data, "expected.tsv").toPath, UTF_8).asScala.map { l =>
      val t = l.lastIndexOf('\t'); l.substring(0, t) -> l.substring(t + 1).toLong
    }.toMap

  private def counts(lines: org.apache.spark.sql.Dataset[String]): DataFrame =
    Jobs.wordCount(lines).toDF("word", "count")

  def job(): Array[Row] = {
    GraftIO.writeRegionJson(counts(GraftIO.readText(spark, textDir)), "word",
      Regions, outDir)
    GraftIO.readRegionJson(spark, outDir, Regions).collect()
  }

  def check(rows: Array[Row]): Option[String] = {
    val got = rows.map(r => r.getAs[String]("word") -> r.getAs[Long]("count")).toMap
    if (rows.length != expected.size || got != expected) {
      val wrong = expected.count { case (w, n) => !got.get(w).contains(n) }
      Some(s"wordcount: ${rows.length} rows (expected ${expected.size}), $wrong tallies wrong or missing")
    } else checkRegions()
  }

  /** Every written row sits in region bigint(utf8(key)) mod n, the rule of
    * yamr's hash partitioner, recomputed here independently of the engine. */
  private def checkRegions(): Option[String] = {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = BigInteger.valueOf(Regions.toLong)
    var rows = 0L
    val misplaced = (0 until Regions).map { i =>
      val f = new File(outDir, f"part-$i%05d").toPath
      Files.readAllLines(f, UTF_8).asScala.count { l =>
        rows += 1
        val w = json.readTree(l).get("word").asText()
        new BigInteger(1, w.getBytes(UTF_8)).mod(n).intValue() != i
      }
    }.sum
    if (misplaced > 0 || rows != expected.size)
      Some(s"wordcount: $misplaced of $rows region rows misplaced")
    else None
  }

  def spanPass(tr: Tracer, c: Counters): (Map[String, Double], Option[String]) = {
    val (lines, scan, scanW) = layer(tr, c, "sources.scan") {
      GraftIO.readText(spark, textDir).localCheckpoint()
    }
    val (table, mr, mrW) = layer(tr, c, "mr.map_reduce") {
      counts(lines).localCheckpoint()
    }
    val (_, write, _) = layer(tr, c, "sink.write") {
      GraftIO.writeRegionJson(table, "word", Regions, outDir)
    }
    val (rows, fetch, _) = layer(tr, c, "sink.fetch") {
      GraftIO.readRegionJson(spark, outDir, Regions).collect()
    }
    val parts = Option(new File(outDir).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("part-"))
    val mapPairs = rows.map(_.getAs[Long]("count")).sum.toDouble
    val shuffled = mrW.shuffleWriteRecords.toDouble
    (Map(
      "sources.scan_s" -> scan.seconds,
      "sources.input_mb" -> mb(inputBytes),
      "sources.rows" -> scanW.inputRecords.toDouble,
      "mr.map_reduce_s" -> mr.seconds,
      "mr.map_pairs" -> mapPairs,
      "mr.shuffle_records" -> shuffled,
      "mr.distinct_keys" -> rows.length.toDouble,
      "mr.combine_ratio" -> shuffled / math.max(1.0, mapPairs),
      "sink.write_s" -> write.seconds,
      "sink.fetch_s" -> fetch.seconds,
      "sink.written_mb" -> mb(parts.map(_.length).sum),
      "sink.regions" -> parts.size.toDouble), check(rows))
  }
}

/** Rows of a result in the canonical form the oracle cache is written in:
  * columns in name order, values as text, rows sorted. */
object Canonical {
  def rows(result: Array[Row]): Vector[String] = result.headOption.fold(Vector.empty[String]) { h =>
    val order = h.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2).toSeq
    result.map(r => order.map(i => if (r.isNullAt(i)) "\\N" else r.get(i).toString)
      .mkString("\t")).toVector.sorted
  }

  def read(f: File): Vector[String] =
    Files.readAllLines(f.toPath, UTF_8).asScala.toVector.sorted

  def diff(what: String, got: Vector[String], want: Vector[String]): Option[String] =
    if (got == want) None
    else {
      val (g, w) = (got.toSet, want.toSet)
      Some(s"$what: ${got.size} rows vs ${want.size} in the oracle, " +
        s"${(g -- w).size} unexpected, ${(w -- g).size} missing")
    }
}

/** q51, the near-dedup pipeline: exact collapse → minhash banding →
  * Jaccard verification (threshold 0.5) → connected components, as the
  * declared query over the generated `documents` table; its result is
  * checked against the query's declared DuckDB oracle.
  *
  * The traced run also runs the declared q93d crawl chain over the same
  * corpus, stage by stage, for the `chain.*` and `functions.*` layers (the
  * chain's near-dedup stage is this same pipeline); that result is checked
  * against q93d's oracle. */
final class NearDedup(spark: SparkSession, data: File, oracle: File,
    chainOracle: Option[File]) extends Workload {
  import Workload._
  import NearDedup._

  private val want = Canonical.read(oracle)
  private val query = SparkEntry.queries(Query)
  val inputBytes: Long = sizeOf(new File(data, "documents.parquet"))

  def job(): Array[Row] = query(spark, data.getPath).collect()

  def check(rows: Array[Row]): Option[String] = checkAs(Query, rows)

  private def checkAs(what: String, rows: Array[Row]): Option[String] =
    Canonical.diff(what, Canonical.rows(rows), want)

  def spanPass(tr: Tracer, c: Counters): (Map[String, Double], Option[String]) = {
    val (docs, scan, scanW) = layer(tr, c, "sources.scan") {
      Tables.documents(spark, data.getPath).localCheckpoint()
    }
    val (curationMetrics, labels) = curation(tr, c, docs)
    val (chainMetrics, chainError) = chain(tr, c, docs)
    (Map("sources.scan_s" -> scan.seconds,
        "sources.input_mb" -> mb(inputBytes),
        "sources.rows" -> scanW.inputRecords.toDouble) ++ curationMetrics ++ chainMetrics,
      checkAs("q51 via the public stage functions", labels).orElse(chainError))
  }

  /** minhashCandidates → verifyPairs → connectedComponents, one span each;
    * returns the metrics and the (doc_id, rep) labels. */
  private def curation(tr: Tracer, c: Counters, docs: DataFrame)
      : (Map[String, Double], Array[Row]) = {
    val (shingleRows, _, _) = layer(tr, c, "curation.shingle") {
      docs.select(explode(shingles(tokens(col("text"))))).count()
    }
    val (cand, mh, _) = layer(tr, c, "curation.minhash_candidates") {
      Curation.minhashCandidates(docs).localCheckpoint()
    }
    val (pairs, jc, _) = layer(tr, c, "curation.jaccard_confirm") {
      Curation.verifyPairs(docs, cand, Threshold).localCheckpoint()
    }
    val (labels, cc, _) = layer(tr, c, "curation.cc") {
      Curation.connectedComponents(docs.select(col("doc_id")), pairs).localCheckpoint()
    }
    val nCand = cand.count().toDouble
    val nPairs = pairs.count().toDouble
    val rows = labels.collect()
    (Map(
      "curation.shingle_rows" -> shingleRows.toDouble,
      "curation.minhash_candidates_s" -> mh.seconds,
      "curation.candidate_pairs" -> nCand,
      "curation.jaccard_confirm_s" -> jc.seconds,
      "curation.confirmed_pairs" -> nPairs,
      "curation.cc_s" -> cc.seconds,
      "curation.docs_kept" ->
        rows.count(r => r.getAs[Long]("doc_id") == r.getAs[Long]("rep")).toDouble,
      "curation.candidate_precision" -> nPairs / math.max(1.0, nCand)), rows)
  }

  /** The q93d chain through its own stage tap: each stage's frame is
    * cached and forced where the chain creates it, so the next stage reads
    * it from the cache and each gap between taps is one stage's own work. */
  private def chain(tr: Tracer, c: Counters, docs: DataFrame)
      : (Map[String, Double], Option[String]) = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val held = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
    var last = tr.now
    val probe = (stage: String, df: DataFrame) => {
      df.persist()
      val rows = df.count()
      val end = tr.now
      tr.record(s"chain.$stage", last, end).counts = Map("rows" -> rows.toDouble)
      out(s"chain.${stage}_s") = end - last
      out(s"chain.${stage}_rows") = rows.toDouble
      held(stage) = df
      last = tr.now
    }
    val (rows, _, _) = layer(tr, c, "chain") {
      last = tr.now
      CurationChain.crawlChainHttpStaged(docs, ChainTargetDocs, ChainSpanK, Some(probe))
        .collect()
    }
    // throughput: MB of HTTP messages the WARC parse emits (its records are
    // built in-plan), MB of payloads the main-content + NFC stage consumes
    out("functions.warc_parse_mb_s") =
      textMb(held("warc_parse"), "body") / out("chain.warc_parse_s")
    out("functions.main_nfc_mb_s") =
      textMb(held("http_gate"), "payload") / out("chain.main_nfc_s")
    held.values.foreach(_.unpersist())
    (out.toMap, chainOracle.fold(Option("no q93d oracle answer given")) { f =>
      Canonical.diff(s"$ChainQuery via its stage tap", Canonical.rows(rows), Canonical.read(f))
    })
  }

  private def textMb(df: DataFrame, column: String): Double =
    mb(df.agg(coalesce(sum(octet_length(col(column))), lit(0L))).head().getLong(0))
}

object NearDedup {
  val Query = "q51_dedup_pipeline"
  val ChainQuery = "q93d_crawl_chain_http"
  /** q51's Jaccard threshold, and q93d's target size and span length. */
  private val Threshold = 0.5
  private val ChainTargetDocs = 500L
  private val ChainSpanK = 4
}
