package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Harness
import graft.operators.Dedup

/** Skew soak for the quadratic-risk dedup family: a deliberately
  * degenerate corpus — one LSH bucket / one IVF cell holding 10^5
  * IDENTICAL rows inside a 10^6-row corpus (sf1-scale document count) —
  * must stay bounded through the capped paths. Without `maxBucket`/
  * `maxCell`, the hot block alone would expand to ~5·10^9 candidate
  * pairs; with the guards the blow-up is dropped (the flood belongs to
  * EXACT content dedup, which collapses it in one hash shuffle).
  *
  * Run: `SPARK_GRAFT_CPUS=32 sbt "runMain graft.examples.SkewSoak [rows] [hot] [probe-substring]"`
  * Prints one JSON line per probe: {probe, rows, hot, out, sec}.
  * Measured results are recorded in SCALE.md ("Skew soak, measured").
  */
object SkewSoak {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val hot = args.drop(1).headOption.map(_.toLong).getOrElse(100000L)
    val only = args.drop(2).headOption.getOrElse("")
    val spark = Harness.session(Harness.cpus)

    // 10^5 byte-identical texts (one shingle set -> one bucket in every
    // band) + unique tails for the rest of the corpus
    val docs = spark.range(n).select(col("id"),
      when(col("id") < hot,
        lit("the quick brown fox jumps over the lazy dog again and again"))
        .otherwise(concat(lit("unique document number "),
          col("id").cast("string"), lit(" with payload "),
          md5(col("id").cast("string")))).as("text"))

    // 10^5 identical embeddings (one IVF cell) + deterministic SIGNED
    // spread (components in [-1, 1], so random cosines concentrate near
    // 0 and the 0.95 threshold separates real dups from noise)
    val dims = 0 until 8
    val hotVec = array(dims.map(_ => lit(0.5f)): _*)
    val spread = array(dims.map(k =>
      ((pmod(xxhash64(col("id"), lit(k)), lit(2001)) - 1000) / 1000.0)
        .cast("float")): _*)
    val vecs = spark.range(n).select(col("id"),
      when(col("id") < hot, hotVec).otherwise(spread).as("vec"))

    // `out` = result pairs for the near-dup probes, surviving rows for
    // the exact probe; an uncapped hot block would emit ~5e9 pairs, so
    // any bounded `out` + wall time proves the guard held
    def probe(name: String)(job: => Long): Unit = if (name.contains(only)) {
      val t0 = System.nanoTime()
      val out = job
      val sec = (System.nanoTime() - t0) / 1e9
      require(out < 10000000L, s"$name exploded: $out output rows")
      println(f"""{"probe":"$name","rows":$n,"hot":$hot,""" +
        f""""out":$out,"sec":$sec%.1f}""")
    }

    // q66-shaped: MinHash-LSH with the API-default murmur3 family and
    // maxBucket cap — the 10^5-row bucket must be dropped, not expanded
    probe("minhash_lsh_hot_bucket") {
      Dedup.minHashLsh(docs, "text", "id").count()
    }
    // q87-shaped: SemDeDup over IVF cells with the maxCell cap — the
    // 10^5-row cell must be dropped, not expanded. The algorithm's true
    // cost is Σ cell² /2 exact verifications, so nlist must keep
    // ordinary cells small (~n/250 here → ~250-row cells → ~30M pairs);
    // an nlist 4× coarser was measured at ~400M pairs — the knob, not
    // the guard, is what keeps the verify stage affordable.
    probe("semantic_dedup_hot_cell") {
      Dedup.semanticDedup(vecs, "vec", "id", nlist = 4096,
        threshold = 0.95).count()
    }
    // the correct tool for the flood: exact dedup collapses the 10^5
    // identical rows in one hash shuffle
    probe("exact_dedup_flood") {
      Dedup.dedupCorpus(docs, "text", "id").count()
    }
    spark.stop()
  }
}
