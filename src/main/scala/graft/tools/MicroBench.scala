package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._

/** CPU-bound microbenchmarks over cached in-memory data — the timing
  * harness for kernel-vs-HOF claims that must not be polluted by the
  * sandbox's erratic storage (the macro bench reads parquet; this
  * reads cached blocks only). Prints one JSON line per case.
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build(8, "graft-microbench")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // 200k random 64-dim float vectors, cached and materialized
    val dim = 64
    val df = spark.range(0, 200000).select(col("id"),
        transform(sequence(lit(1), lit(dim)),
          i => (pmod(hash(col("id") * lit(1000) + i), lit(2000)) / lit(1000.0) - lit(1.0))
            .cast("float")).as("a"),
        transform(sequence(lit(1), lit(dim)),
          i => (pmod(hash(col("id") * lit(7777) + i), lit(2000)) / lit(1000.0) - lit(1.0))
            .cast("float")).as("b"))
      .persist()
    df.count()

    def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(
        transform(a, x => x.cast("double")), transform(b, x => x.cast("double")),
        (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

    def time(label: String)(mk: => org.apache.spark.sql.DataFrame): Double = {
      mk.count() // warm: codegen + JIT
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        mk.count()
        (System.nanoTime() - t0) / 1e9
      }
      val best = runs.min
      println(f"""{"case":"$label","best_s":$best%.3f,"runs":[${runs.map(r => f"$r%.3f").mkString(",")}]}""")
      best
    }

    val hof = time("dot_hof")(df.select(hofDot(col("a"), col("b")).as("d")).filter(col("d") > 1e9))
    val nat = time("dot_native")(
      df.select(call_function("graft_dot", col("a"), col("b")).as("d")).filter(col("d") > 1e9))
    println(f"""{"case":"dot_speedup","x":${hof / nat}%.2f}""")

    // Bloom probe: Scala UDF vs the codegen'd expression, same sketch,
    // 2M cached strings (~1% hit rate)
    val strs = spark.range(0, 2000000)
      .select(col("id"), concat(lit("gram number "), col("id")).as("g"))
      .persist()
    strs.count()
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(20000L, 0.01)
    (0 until 2000000 by 100).foreach(i => bloom.putString(s"gram number $i"))
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream(); bloom.writeTo(bos); bos.toByteArray
    }
    val probeUdf = udf((g: String) => g != null && bloom.mightContainString(g))
    val u = time("bloom_udf")(strs.filter(probeUdf(col("g"))))
    val e = time("bloom_native")(
      strs.filter(call_function("graft_bloom_might_contain", col("g"), lit(bytes))))
    println(f"""{"case":"bloom_speedup","x":${u / e}%.2f}""")

    // PQ ADC scan vs full-precision query scan: the per-corpus-row work
    // of ANN scoring — one 64-dim double dot against a constant query
    // vs 16 integer codebook lookups (Quantization.pqTopK's scan body),
    // both over cached columns. The memory story (16x smaller scan
    // input) is structural; this measures the CPU side of the trade.
    val qArr = typedLit((0 until dim).map(i =>
      ((i * 2654435761L % 2000) / 1000.0) - 1.0))
    val full = time("pq_query_dot_scan")(
      df.select(call_function("graft_dot", qArr, col("a")).as("d"))
        .filter(col("d") > 1e9))
    val m = 16
    val codes = spark.range(0, 200000).select(col("id"),
        transform(sequence(lit(0), lit(m - 1)),
          s => pmod(hash(col("id") * lit(31) + s), lit(32)).cast("long")).as("codes"))
      .persist()
    codes.count()
    // dense-array distance table (map element_at is a linear scan —
    // measured 3.9x SLOWER than the dot it replaces; the array probe is
    // O(1), same layout Quantization.queryDistTable builds)
    val qt = typedLit((0 until m).flatMap(s => (0 until 100).map(c =>
      if (c < 32) (s * 2654435761L + c * 40503L) % 20000L else 0L)))
    val adc = time("pq_adc_hof")(
      codes.select(aggregate(
          zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
            (c, s) => element_at(qt,
              (s.cast("long") * lit(100L) + c + lit(1L)).cast("int"))),
          lit(0L), (a, x) => a + x).as("d"))
        .filter(col("d") > lit(10000000000L)))
    val adcNat = time("pq_adc_native")(
      codes.select(call_function("graft_pq_adc", col("codes"), qt, lit(100)).as("d"))
        .filter(col("d") > lit(10000000000L)))
    println(f"""{"case":"pq_adc_native_vs_hof","x":${adc / adcNat}%.2f}""")
    println(f"""{"case":"pq_adc_native_vs_dot","x":${full / adcNat}%.2f}""")

    // BPE merge application: the nested aggregate-fold chain vs the
    // native expression, same 8-merge table, 200k cached synthetic
    // texts (~9 words each from a letter alphabet so merges fire).
    // The structural story is expression DEPTH (the fallback nests one
    // fold per merge and cannot express a 10^4-merge tokenizer at
    // all); this measures the CPU side at a depth both paths support.
    val texts = spark.range(0, 200000).select(col("id"),
        array_join(transform(sequence(lit(1), lit(9)), i =>
          element_at(typedLit(Seq("lower", "slow", "flow", "werewolf",
            "owl", "lowest", "roller", "wool")),
            pmod(hash(col("id") * lit(131) + i), lit(8)).cast("int") + lit(1))),
          " ").as("text"))
      .persist()
    texts.count()
    val bpeMerges = Seq("l" -> "o", "o" -> "w", "lo" -> "w", "e" -> "r",
      "w" -> "e", "o" -> "l", "low" -> "er", "s" -> "low")
    def bpeHof(text: org.apache.spark.sql.Column) =
      flatten(transform(split(text, " "), w => {
        val chars = when(length(w) === 0, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), length(w)),
            i => w.substr(i, lit(1))))
        bpeMerges.foldLeft(chars) { case (arr, (l, r)) =>
          aggregate(arr, array().cast("array<string>"),
            (acc, s) => when(
              size(acc) > 0 && element_at(acc, -1) === lit(l) && s === lit(r),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
              .otherwise(concat(acc, array(s))))
        }
      }))
    val bh = time("bpe_hof")(
      texts.select(size(bpeHof(col("text"))).as("n")).filter(col("n") > 999))
    val bn = time("bpe_native")(
      texts.select(size(call_function("graft_bpe_encode", col("text"),
        typedLit(bpeMerges.map(_._1)), typedLit(bpeMerges.map(_._2)))).as("n"))
        .filter(col("n") > 999))
    println(f"""{"case":"bpe_speedup","x":${bh / bn}%.2f}""")

    // r7: span-scrub coverage rebuild, naive per-position exists probe
    // (O(T·H) per row) vs the interval-union array_except (O(T + H·n)) —
    // the expression swap inside Corpus.scrubDuplicateSpans /
    // Decontamination.scrubSpans, on the worst-case shape it was swapped
    // FOR: boilerplate-saturated documents (every 5-gram position a
    // hit). 2,000 cached rows × 1,000 token positions × 996 hits; both
    // forms write to the noop sink so every output column is computed.
    val spanN = 5
    val scrubDocs = spark.range(0, 2000).select(col("id"),
        transform(sequence(lit(1), lit(1000)),
          i => concat(lit("tok"), pmod(hash(col("id") + i), lit(50)))).as("toks"),
        sequence(lit(0), lit(995)).as("__ps"))
      .persist()
    scrubDocs.count()
    def timeNoop(label: String)(mk: => org.apache.spark.sql.DataFrame): Double = {
      mk.write.format("noop").mode("overwrite").save() // warm
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        mk.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val best = runs.min
      println(f"""{"case":"$label","best_s":$best%.3f,"runs":[${runs.map(r => f"$r%.3f").mkString(",")}]}""")
      best
    }
    def rebuilt(kept: org.apache.spark.sql.Column) =
      scrubDocs.select(col("id"),
        array_join(transform(kept, j => element_at(col("toks"), j + 1)), " ").as("text"),
        (size(col("toks")) - size(kept)).as("n_removed"))
    val scrubOld = timeNoop("scrub_exists_probe")(rebuilt(
      filter(sequence(lit(0), size(col("toks")) - 1),
        j => !exists(col("__ps"), p => p <= j && j <= p + lit(spanN - 1)))))
    val scrubNew = timeNoop("scrub_interval_union")(rebuilt(
      array_except(sequence(lit(0), size(col("toks")) - 1),
        flatten(transform(col("__ps"), p => sequence(p, p + lit(spanN - 1)))))))
    println(f"""{"case":"scrub_speedup","x":${scrubOld / scrubNew}%.2f}""")
    scrubDocs.unpersist()
    spark.stop()
  }
}
