package graft

import graft.datagen.DataGen
import graft.features.{AggregatorStrategy, AutoStrategy, CaseWhenStrategy, FeatureSpec, MapGroupsStrategy, PivotRollupStrategy}
import graft.queries.RefWorkload
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.{col, count, explode, lit, row_number}

/** Benchmark harness. Two groups of timings, every one a full
  * read -> compute -> WRITE-parquet action (the reference's metric,
  * python/data_generation/helpers.py:24-44 — never `count()`, which lets
  * Catalyst elide projections):
  *
  *   - every SparkEntry query at `SPARK_GRAFT_SF_DIR` (driver: sf0.1),
  *     excluding the `ref_*` entries which ignore the sf dir;
  *   - the reference workload itself on DataGen.Tiny (~17.3M rows):
  *     the 2,080-column FeatureSpec.reference via all three strategies,
  *     directly comparable to BASELINE.md tiny (pivot 104.21s,
  *     case-when 242.84s, pandas-udf 78.31s on 16 vCPU).
  *
  * Results go to stdout as ONE bare JSON line AND to
  * /root/repo/bench_out.json; the file is pre-written with value=-1
  * before the run as an OOM/crash marker, like the reference's
  * BenchmarkWriter.before() (helpers.py:24-32).
  */
object Bench {

  private val OutFile = Paths.get("/root/repo/bench_out.json")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Files.writeString(OutFile,
      s"""{"metric":"total","value":-1,"unit":"sec","queries":{},"sf":"$sfDir"}""")

    val spark = GraftSession.build(GraftSession.cpus, "graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    val scratch = "/root/repo/target/bench_scratch"

    def timed(fn: => DataFrame): Double = {
      val t0 = System.nanoTime()
      fn.write.mode(SaveMode.Overwrite).parquet(s"$scratch/out")
      val secs = (System.nanoTime() - t0) / 1e9
      // evict frames the query persisted (LSH dedup caches): leftover
      // cache shrinks the heap for later queries' aggregation state and
      // skews their timings
      spark.catalog.clearCache()
      secs
    }

    // SPARK_GRAFT_CONTROL_ONLY=1: run just the warmup + the
    // ref_tiny_datagen I/O control and exit — the cheap probe
    // scripts/bench_gated.sh uses to test whether the host's storage
    // regime is calm BEFORE committing to a full sweep (VERDICT r7 #1:
    // make round deltas decidable). Prints the same one-line JSON shape.
    if (sys.env.get("SPARK_GRAFT_CONTROL_ONLY").contains("1")) {
      val rs = scala.collection.mutable.LinkedHashMap[String, Double]()
      rs("warmup") = timed(spark.range(0, 1000000).toDF("n"))
      rs("ref_tiny_datagen") = {
        Fs.deleteRecursively(new java.io.File(RefWorkload.tinyPath))
        timed2(RefWorkload.ensure(spark, DataGen.Tiny, RefWorkload.tinyPath))
      }
      val qs = rs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      val json = s"""{"metric":"total","value":${f"${rs.values.sum}%.3f"},"unit":"sec","queries":$qs,"sf":"control_only"}"""
      Files.writeString(OutFile, json)
      println(json)
      spark.stop()
      return
    }

    // SPARK_GRAFT_DEDUP_DOCS=N: corpus-volume dedup evidence mode —
    // generate N synthetic documents (DocGen: ~10% planted near-dups,
    // 5% boilerplate-flooded) and run the dedup family end-to-end, then
    // exit. The gates prove these operators correct on ≤2,000-row
    // fixtures; this is the committed wall-time + result-count evidence
    // that the banded/guarded plans hold at 10⁵–10⁶ documents. Counts
    // ride a separate "counts" field so "value" stays pure seconds.
    sys.env.get("SPARK_GRAFT_DEDUP_DOCS").foreach { nStr =>
      val n = nStr.toLong
      val path = s"${RefWorkload.dataRoot}/dedup_docs"
      val rs = scala.collection.mutable.LinkedHashMap[String, Double]()
      val counts = scala.collection.mutable.LinkedHashMap[String, Long]()
      rs("warmup") = timed(spark.range(0, 1000000).toDF("n"))
      rs("datagen") = {
        Fs.deleteRecursively(new java.io.File(path))
        timed2(graft.datagen.DocGen.docs(spark, n)
          .write.mode(SaveMode.Overwrite).parquet(path))
      }
      spark.read.parquet(path).write.format("noop").mode("overwrite").save()
      val docs = spark.read.parquet(path)
      counts("n_docs") = n

      rs("dedup_exact") = timed(graft.llm.Dedup.exact(docs, "doc_id", "text"))

      // oracle-parity md5 pipeline, then the full pair→CC→keep chain on
      // the cached pairs (what a production dedup actually executes).
      // Timing discipline: the pair producers are EAGER (timed2 covers
      // the whole job), and every count() runs OUTSIDE the timed block
      // on the persisted result so no stage carries an extra job the
      // others don't — the md5-vs-fast delta stays a clean comparison.
      // SPARK_GRAFT_DEDUP_FAST=1 skips the md5 oracle-parity pair stage
      // (its tax vs the fast hashes is already quantified at 200k docs
      // in BENCH_dedup_r06b.json) and runs the CC→keep chain on the
      // fast pairs instead — what makes a 10⁶-doc sweep affordable on
      // a degraded host without dropping the cluster-at-volume evidence.
      val fastOnly = sys.env.get("SPARK_GRAFT_DEDUP_FAST").contains("1")
      if (!fastOnly) {
        var pairs: DataFrame = null
        rs("dedup_pairs") = timed2 { pairs = graft.llm.Dedup.minhashPairs(docs, "doc_id", "text") }
        counts("n_pairs") = pairs.count()
        rs("dedup_cluster_keep") = timed2 {
          graft.llm.Dedup.keepBest(docs, "doc_id", "text", pairs)
            .write.mode(SaveMode.Overwrite).parquet(s"$scratch/out")
        }
        counts("n_clusters") = spark.read.parquet(s"$scratch/out").count()
        pairs.unpersist()
      }

      // production fast-hash variant (xxhash64 base hashes, no hex
      // round-trip): the md5-vs-fast delta is the oracle-parity tax
      var pairsFast: DataFrame = null
      rs("dedup_pairs_fast") = timed2 {
        pairsFast = graft.llm.Dedup.minhashPairs(docs, "doc_id", "text", fastHash = true)
      }
      counts("n_pairs_fast") = pairsFast.count()
      if (fastOnly) {
        rs("dedup_cluster_keep_fast") = timed2 {
          graft.llm.Dedup.keepBest(docs, "doc_id", "text", pairsFast)
            .write.mode(SaveMode.Overwrite).parquet(s"$scratch/out")
        }
        counts("n_clusters_fast") = spark.read.parquet(s"$scratch/out").count()
      }
      pairsFast.unpersist()

      // incremental: index 90% of the corpus once, then dedup the
      // arriving 10% shard against it. The shard is the HIGHER-id side
      // of every planted pair ((10k, 10k+1) with 10k+1 in the shard),
      // so n_ingested = shard − pairs-found — a silent recall
      // regression at volume would show up as n_ingested ≈ shard size.
      val idxPath = s"$scratch/dedup_index"
      val shard = docs.filter(col("doc_id") % 10 === 1)
      rs("dedup_index_build") = timed2 {
        graft.llm.Dedup.signatureIndex(docs.filter(col("doc_id") % 10 =!= 1), "doc_id", "text")
          .write.mode(SaveMode.Overwrite).parquet(idxPath)
      }
      var inc: DataFrame = null
      rs("dedup_incremental") = timed2 {
        inc = graft.llm.Dedup.incrementalPairs(
          spark.read.parquet(idxPath), shard, "doc_id", "text")
      }
      counts("n_pairs_incremental") = inc.count()
      inc.unpersist()
      // the full ingest cycle: shard in, deduplicated shard out
      var ingested: DataFrame = null
      rs("dedup_ingest_filter") = timed2 {
        ingested = graft.llm.Dedup.ingestFilter(
          spark.read.parquet(idxPath), shard, "doc_id", "text")
      }
      counts("n_ingested") = ingested.count()
      ingested.unpersist()

      // BUCKETED index layout: the band shuffle moves to index-build
      // time (bucketBy pays one write-side exchange + sort); ingest
      // then band-joins and censuses the index exchange-free
      // (DedupIndexSpec pins the plans — this is the wall-time at
      // volume, same result set as dedup_incremental).
      spark.sql("CREATE DATABASE IF NOT EXISTS graft_bench_dedup")
      rs("dedup_index_build_bucketed") = timed2 {
        graft.llm.Dedup.writeBandedIndex(
          graft.llm.Dedup.signatureIndex(
            docs.filter(col("doc_id") % 10 =!= 1), "doc_id", "text"),
          "graft_bench_dedup.sig_idx", s"$scratch/dedup_index_bucketed")
      }
      var incB: DataFrame = null
      rs("dedup_incremental_bucketed") = timed2 {
        incB = graft.llm.Dedup.incrementalPairsBucketed(
          spark, "graft_bench_dedup.sig_idx", shard, "doc_id", "text")
      }
      counts("n_pairs_incremental_bucketed") = incB.count()
      incB.unpersist()
      spark.catalog.clearCache()

      // index COMPACTION at volume: the bucketed build above already
      // leaves tasks×buckets files; compact the band table to
      // one-per-bucket and prove the ingest join still returns the
      // same pair count from the compacted generation.
      val bandsT = "graft_bench_dedup.sig_idx_bands"
      counts("n_index_files_before") =
        graft.sources.TableMaintenance.dataFileCount(spark, bandsT)
      rs("dedup_index_compact") = timed2 {
        graft.sources.TableMaintenance.compactBucketedTable(
          spark, bandsT, s"$scratch/dedup_index_bucketed/bands_gen2")
      }
      counts("n_index_files_after") =
        graft.sources.TableMaintenance.dataFileCount(spark, bandsT)
      var incC: DataFrame = null
      rs("dedup_incremental_compacted") = timed2 {
        incC = graft.llm.Dedup.incrementalPairsBucketed(
          spark, "graft_bench_dedup.sig_idx", shard, "doc_id", "text")
      }
      counts("n_pairs_incremental_compacted") = incC.count()
      incC.unpersist()
      spark.catalog.clearCache()

      // frequency sketches at volume: exact top-20 via the full
      // vocabulary aggregate vs the Misra–Gries sketch-then-recount
      // (identical output whenever the k-th count clears the
      // pigeonhole bound — n_hh_agree pins it at volume), plus the
      // count-min counter-table build. The win to look for: the heavy-
      // hitter path's shuffle moves candidate tokens only, the full
      // top-k moves the whole vocabulary. Capacity is SIZED TO THE
      // CORPUS per the operator's contract: at 200k docs (~24M tokens)
      // the 20th count sits under N/4097, so capacity 4096 measured
      // n_hh_agree=13 — 64Ki counters clear the bound with room while
      // per-partition state stays trivial (the contract is a real
      // dial, not a formality; this run is the committed evidence).
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("token"))
      var fullTopk: DataFrame = null
      rs("vocab_full_topk") = timed2 {
        fullTopk = docs
          .select(explode(graft.llm.TextFunctions.tokens(col("text"))).as("token"))
          .groupBy(col("token")).agg(count(lit(1)).as("n"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 20)
          .persist()
        fullTopk.count(): Unit
      }
      var hh: DataFrame = null
      rs("vocab_heavy_hitters") = timed2 {
        hh = graft.llm.Corpus.heavyHitters(docs, "text", k = 20, capacity = 65536)
          .persist()
        hh.count(): Unit
      }
      counts("n_hh_agree") = hh.join(fullTopk, Seq("token", "n", "rnk")).count()
      fullTopk.unpersist(); hh.unpersist()
      rs("vocab_cms_build") = timed2 {
        graft.llm.Corpus.cmsCounters(docs, "text")
          .write.mode(SaveMode.Overwrite).parquet(s"$scratch/out")
      }
      spark.catalog.clearCache()

      // r7: boilerplate span scrub at corpus volume — DocGen plants ~5%
      // boilerplate-flooded documents (hits ≈ tokens), the shape whose
      // coverage check was O(T·H) before the r7 interval-union rewrite
      // (53.7× on the saturated worst case, MICROBENCH_r07). This is the
      // committed wall-time evidence that the operator holds at 10⁵⁺
      // docs; n_tokens_removed pins that the scrub actually fired.
      // explicitly named output path (ADVICE r7): the count is read back
      // from the same path this timed write targets, not from whatever
      // the last timed() happened to write
      val scrubOut = s"$scratch/scrub_out"
      rs("scrub_boilerplate") = timed2 {
        graft.llm.Corpus.scrubDuplicateSpans(docs, "doc_id", "text")
          .write.mode(SaveMode.Overwrite).parquet(scrubOut)
      }
      counts("n_tokens_removed") = spark.read.parquet(scrubOut)
        .agg(org.apache.spark.sql.functions.sum(col("n_removed"))).head().getLong(0)
      spark.catalog.clearCache()

      val qs = rs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      val cs = counts.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val total = rs.values.filter(_ >= 0).sum
      val json = s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,"counts":$cs,"sf":"dedup_$n"}"""
      Files.writeString(OutFile, json)
      println(json)
      spark.stop()
      return
    }

    // SPARK_GRAFT_REF_SCALE=small|medium: scale-evidence mode — run ONLY
    // the reference workload (datagen + strategies) at that size and
    // exit. The strategy list shrinks as data grows: at medium (1.7B
    // rows) the chunked case-when and raw-row mapgroups forms are
    // measured in hours against BASELINE.md's own hours-long
    // counterparts (17,653 s / 1,132 s) and add no scaling signal the
    // small run doesn't already give — the scale question is whether the
    // one-shuffle agg shapes hold, so those are what medium runs.
    sys.env.get("SPARK_GRAFT_REF_SCALE").foreach { scale =>
      val (cfg, strategies) = scale match {
        case "small" => (DataGen.Small, Seq(
          "ref_auto" -> AutoStrategy, "ref_aggregator" -> AggregatorStrategy,
          "ref_pivot" -> PivotRollupStrategy, "ref_casewhen" -> CaseWhenStrategy,
          "ref_mapgroups" -> MapGroupsStrategy))
        case "medium" => (DataGen.Medium, Seq(
          "ref_auto" -> AutoStrategy, "ref_aggregator" -> AggregatorStrategy,
          "ref_pivot" -> PivotRollupStrategy))
        // The `big` preset's GEOMETRY (730 hive partitions, 1 day each)
        // at 1/100 the customers: full big is ~18B rows / ~117 GB parquet
        // (measured 11 GB at medium × 10.6× rows) — beyond this host's
        // free disk — but the partition-count stress (730-dir discovery,
        // per-partition writes, t_minus spread over 730 distinct values)
        // is shape, not volume, and this exercises it end to end.
        case "bigshape" => (DataGen.Config(10000L, 730, 1), Seq(
          "ref_auto" -> AutoStrategy, "ref_aggregator" -> AggregatorStrategy,
          "ref_pivot" -> PivotRollupStrategy))
        // The `big` preset at 1/10 the customers (VERDICT r7 #7): the
        // full 730x1-day hive layout at medium's proven row volume
        // (~1.8B rows, ~12 GB parquet). Full big is ~117 GB and a 1/4
        // slice died on datagen spill (each generator task covers all
        // 730 part_col values, so the partitioned write sorts the whole
        // task payload; >65 GB of lz4 spill exceeded this host's free
        // disk). 1/10 keeps the partition-count stress — 730-dir
        // discovery, per-partition writes, the t_minus<=720 pruned scan
        // — at a volume the host can actually sort. Row subsample only;
        // shape identical to DataGen.Big.
        case "bigslice" => (DataGen.Config(100000L, 730, 1), Seq(
          "ref_auto" -> AutoStrategy, "ref_aggregator" -> AggregatorStrategy,
          "ref_pivot" -> PivotRollupStrategy))
        case other => sys.error(s"unknown SPARK_GRAFT_REF_SCALE '$other'")
      }
      val path = s"${RefWorkload.dataRoot}/$scale"
      val rs = scala.collection.mutable.LinkedHashMap[String, Double]()
      rs("warmup") = timed(spark.range(0, 1000000).toDF("n"))
      rs("datagen") = {
        Fs.deleteRecursively(new java.io.File(path))
        timed2(RefWorkload.ensure(spark, cfg, path))
      }
      // Untimed full-decode pass (noop sink): without it the FIRST
      // strategy pays the cold page-cache read of the just-regenerated
      // dataset (measured 235 s vs 88 s for the same plan at medium) and
      // cross-strategy numbers stop being comparable.
      spark.read.parquet(path).write.format("noop").mode("overwrite").save()
      for ((name, strat) <- strategies)
        rs(name) =
          try timed(strat(spark.read.parquet(path), FeatureSpec.reference))
          catch { case e: Throwable => failed(name, e) }
      val qs = rs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      val total = rs.values.filter(_ >= 0).sum
      val json = s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,"sf":"ref_$scale"}"""
      Files.writeString(OutFile, json)
      println(json)
      spark.stop()
      return
    }

    // JVM/codegen warmup so the first measured query isn't charged for
    // session spin-up (the reference times session creation per-impl; our
    // per-query numbers share one session, recorded under "warmup").
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    results("warmup") = timed(spark.range(0, 1000000).toDF("n"))

    // The reference benchmark at tiny scale runs FIRST: the reference
    // measures each impl in a fresh JVM, and a heap aged by 48 other
    // queries (streaming state stores, codegen caches) was measured to
    // cost the 2,080-expression case-when strategy up to 2x. The dataset
    // is regenerated every run (delete + write) so the datagen timing is
    // real and the generator/partitioned-sink path is exercised per
    // round.
    results("ref_tiny_datagen") =
      try {
        Fs.deleteRecursively(new java.io.File(RefWorkload.tinyPath))
        timed2(RefWorkload.ensure(spark, DataGen.Tiny, RefWorkload.tinyPath))
      } catch { case e: Throwable => failed("ref_tiny_datagen", e) }
    val tiny = RefWorkload.tinyPath
    // untimed full-decode warm pass, same reason as the scale mode: the
    // first strategy otherwise pays the cold read of the regenerated data
    spark.read.parquet(tiny).write.format("noop").mode("overwrite").save()
    for ((name, strat) <- Seq(
        "ref_tiny_auto" -> AutoStrategy,
        "ref_tiny_aggregator" -> AggregatorStrategy,
        "ref_tiny_pivot" -> PivotRollupStrategy,
        "ref_tiny_casewhen" -> CaseWhenStrategy,
        "ref_tiny_mapgroups" -> MapGroupsStrategy)) {
      results(name) =
        try timed(strat(spark.read.parquet(tiny), FeatureSpec.reference))
        catch { case e: Throwable => failed(name, e) }
    }

    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if !name.startsWith("ref_")) {
      results(name) = try timed(fn(spark, sfDir)) catch { case e: Throwable => failed(name, e) }
    }

    // Control bracket (VERDICT r7 #1): re-read the ref_tiny_datagen I/O
    // control AFTER the sweep so every artifact carries both a start and
    // an end regime reading — a sweep is decidable only when BOTH sit
    // within ~1.5x the calm reference (4.7-5.3 s at sf0.1; SCALE.md
    // noise methodology). Reported as a separate top-level "control"
    // object, NOT as a queries entry, so `value` stays the sum of the
    // same 141-entry set as r1-r7 artifacts.
    val controlEnd =
      try {
        Fs.deleteRecursively(new java.io.File(RefWorkload.tinyPath))
        timed2(RefWorkload.ensure(spark, DataGen.Tiny, RefWorkload.tinyPath))
      } catch { case e: Throwable => failed("control.end_s", e) }
    val calmRef = 5.3
    val controlStart = results.getOrElse("ref_tiny_datagen", -1.0)
    val controlOk = controlStart > 0 && controlEnd > 0 &&
      controlStart <= 1.5 * calmRef && controlEnd <= 1.5 * calmRef
    val control =
      s""""control":{"start_s":${f"$controlStart%.3f"},"end_s":${f"$controlEnd%.3f"},""" +
        s""""calm_ref_s":$calmRef,"ok":$controlOk}"""

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    val json =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,$control,"sf":"$sfDir"}"""
    Files.writeString(OutFile, json)
    println(json)
    spark.stop()
  }

  /** Reports a failed entry on stderr with its cause; -1.0 is the
    * entry's value in the JSON.
    */
  private def failed(name: String, e: Throwable): Double = {
    System.err.println(s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
    -1.0
  }

  /** Time a side-effecting action (the generator writes its own parquet). */
  private def timed2(action: => Unit): Double = {
    val t0 = System.nanoTime()
    action
    (System.nanoTime() - t0) / 1e9
  }
}
