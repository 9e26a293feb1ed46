package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._

import graft.dedup.{Dedup, DeltaDedup}
import graft.ops.CorpusPipeline
import graft.streaming.StreamingComponents

import Harness._

/** The LLM-data engineer's session. Set-up prepares the raw standing
  * crawl with the whole CorpusPipeline (exact dedup, boilerplate,
  * quality, decontamination, near-dup clusters, packing), indexes the
  * kept docs with `DeltaDedup.buildIndex` and closes their pair graph
  * into the standing component map. Each op then processes one ordered
  * crawl increment: probe the index (`deltaPairs`), fold the pairs'
  * closure into the map (`StreamingComponents.advance`, which runs
  * `Dedup.deltaComponents`), advance the index. */
object CrawlDelta {
  val sites = Seq("CorpusPipeline", "Boilerplate", "TrainingPrep", "Dedup")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tr
    implicit val fmt: Formats = DefaultFormats
    val spec = readJson(s"${ctx.inputs}/crawl.json")
    val incs = (spec \ "increments").extract[List[String]]
    val warmupIncs = (spec \ "warmup").extract[List[String]]
    val w = Paths.get(ctx.work)
    val raw = spark.read.parquet(s"${ctx.inputs}/raw.parquet")
    val prepared = w.resolve("prepared")
    val (_, prepNs, _) = setupOnce(ctx) {
      tr.op("corpus.prepare", always = true) {
        tr.span("corpus.prepare") {
          CorpusPipeline.prepare(raw, spark.read.parquet(s"${ctx.inputs}/benchmark.parquet"))
            .write.parquet(prepared.toString)
        }
      }
    }
    val standing = raw.join(spark.read.parquet(prepared.toString).select("doc_id"), "doc_id")
    timeSetup(ctx) { r =>
      DeltaDedup.buildIndex(standing, "text", "doc_id", w.resolve(s"index$r").toString)
    }
    val idx = w.resolve(s"index${ctx.setupReps - 1}")
    val pairs0 = w.resolve("pairs0")
    val map0 = w.resolve("map0")
    setupOnce(ctx) {
      Dedup.minHashPairs(standing, "text", "doc_id").select("id_a", "id_b")
        .write.parquet(pairs0.toString)
      Dedup.connectedComponents(spark.read.parquet(pairs0.toString), "id_a", "id_b")
        .write.parquet(map0.toString)
      // warm-up: increments the timed phase never sees, against a copy
      // of the standing index, thrown away
      copyTree(idx, w.resolve("index_warmup"))
      warmupIncs.zipWithIndex.foreach { case (inc, k) =>
        increment(spark, w.resolve("index_warmup").toString, spark.read.parquet(inc),
          (if (k == 0) map0 else w.resolve(s"warmup_map$k")).toString,
          w.resolve(s"warmup_pairs${k + 1}").toString, w.resolve(s"warmup_map${k + 1}").toString, tr)
      }
      settle()
    }

    // each phase starts from its own copy of the standing index and map
    var i = 0
    var (phaseIdx, pairsDir, mapDir) = (idx, pairs0, map0)
    for (traced <- ctx.phases) {
      tr.active = traced
      val tag = if (traced) "traced" else "plain"
      phaseIdx = w.resolve(s"index_$tag")
      pairsDir = w.resolve(s"pairs_$tag")
      mapDir = w.resolve(s"map_$tag")
      copyTree(idx, phaseIdx)
      copyTree(pairs0, pairsDir.resolve("p0"))
      copyTree(map0, mapDir.resolve("v0"))
      ctx.beginTimed()
      i = 0
      while (i < incs.size && ctx.more(i) && ctx.failed == 0) {
        try {
          val delta = spark.read.parquet(incs(i))
          val c0 = cpuNs()
          val (_, ns, _) = tr.op("delta.increment") {
            increment(spark, phaseIdx.toString, delta, mapDir.resolve(s"v$i").toString,
              pairsDir.resolve(s"p${i + 1}").toString, mapDir.resolve(s"v${i + 1}").toString, tr)
          }
          ctx.done(Map("kind" -> "increment", "ms" -> ns / 1e6,
            "cpu_ms" -> (cpuNs() - c0) / 1e6, "traced" -> traced))
          deleteTree(mapDir.resolve(s"v$i"))
        } catch { case e: Throwable => ctx.fail(s"increment $i", e) }
        i += 1
      }
      ctx.endTimed()
    }
    if (tr.enabled) {
      val n = math.max(tr.tracedOps("delta.increment").size, 1).toDouble
      val engine = tr.engineMetrics("delta.increment")
      val site = tr.siteMetrics("corpus.prepare", sites)
      ctx.layers ++= engine ++ site ++ Map(
        "dedup.cc_jobs" -> site("site.Dedup.jobs"),
        "delta.probe_ms" -> tr.spanNs("delta.probe") / 1e6 / n,
        "delta.fold_ms" -> tr.spanNs("delta.fold") / 1e6 / n,
        "delta.advance_ms" -> tr.spanNs("delta.advance") / 1e6 / n,
        "delta.jobs_per_increment" -> engine("engine.jobs"))
    }
    ctx.layers ++= Map(
      "delta.index_files" -> dataFiles(phaseIdx).size.toDouble,
      "delta.index_bytes" -> dirBytes(phaseIdx).toDouble)
    ctx.extra ++= Map("increments_done" -> i, "prepare_s" -> prepNs / 1e9,
      "prepared" -> prepared.toString, "index" -> phaseIdx.toString,
      "index_bytes" -> dirBytes(phaseIdx), "pairs" -> pairsDir.toString,
      "map" -> mapDir.resolve(s"v$i").toString)
    // untimed, for the identity check: the index rebuilt from scratch over
    // the standing docs ∪ the processed increments
    val all = incs.take(i).map(spark.read.parquet(_)).foldLeft(standing)(_ unionByName _)
    val rebuilt = w.resolve("index_rebuilt")
    DeltaDedup.buildIndex(all, "text", "doc_id", rebuilt.toString)
    ctx.extra("index_rebuilt") = rebuilt.toString
  }

  /** One increment: probe the index and land the pairs, fold them into
    * the map at `mapIn` landing `mapOut`, advance the index. */
  def increment(spark: SparkSession, idx: String, delta: DataFrame, mapIn: String,
      pairsOut: String, mapOut: String, tr: Tracer): Unit = {
    tr.span("delta.probe") {
      DeltaDedup.deltaPairs(spark, idx, delta, "text", "doc_id")
        .select("id_a", "id_b").write.parquet(pairsOut)
    }
    tr.span("delta.fold") {
      // the increment's own closure, folded into the standing map by the
      // program's incremental component maintenance
      val closure = Dedup.connectedComponents(spark.read.parquet(pairsOut), "id_a", "id_b")
      StreamingComponents.advance(spark.read.parquet(mapIn), closure).write.parquet(mapOut)
    }
    tr.span("delta.advance") {
      DeltaDedup.advanceIndex(spark, idx, delta, "text", "doc_id")
    }
  }
}
