package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T, VectorFunctions => V}

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  test("text functions: tokens, counts, shingles, fingerprints") {
    val df = Seq("the quick brown fox", "  spaced   out  ", "").toDF("t")
    val r = df.select(
      T.tokenCount($"t").as("n"),
      T.tokenShingles($"t", 2).as("sh2"),
      T.fingerprintMd5($"t").as("fp")).collect()
    assert(r(0).getInt(0) == 4)
    assert(r(1).getInt(0) == 2) // empties dropped
    assert(r(2).getInt(0) == 0)
    assert(r(0).getSeq[String](1) ==
      Seq("the quick", "quick brown", "brown fox"))
    assert(r(2).getSeq[String](1).isEmpty) // no descending-sequence blowup
    // same normalized content → same fingerprint
    val fps = Seq("A  B", "a b").toDF("t")
      .select(T.fingerprintMd5(lower($"t"))).distinct().count()
    assert(fps == 1)
  }

  test("CJK tokenizer: Han bigrams + whitespace latin, mixed text") {
    val df = Seq("spark 引擎很快 fast", "单", "plain text").toDF("t")
    val out = df.select(T.tokensCjk($"t")).as[Seq[String]].collect()
    assert(out(0).toSet == Set("spark", "fast", "引擎", "擎很", "很快"))
    assert(out(1) == Seq("单")) // single ideograph survives
    assert(out(2) == Seq("plain", "text"))
  }

  test("dictionary CJK tokenizer: DAG/FMM, stop words, case options") {
    val dict = Seq("数据", "数据库", "引擎", "向上")
    def toks(t: String, stop: Seq[String] = Nil, cs: Boolean = false) =
      Seq(t).toDF("t").select(T.tokensDict($"t", dict, stop, cs)).head()
        .getSeq[String](0)
    // longest match wins: 数据库 beats 数据 (one word beats word + OOV char)
    assert(toks("数据库引擎") == Seq("数据库", "引擎"))
    // OOV Han chars segment as single characters (jieba precise, no HMM)
    assert(toks("天天向上") == Seq("天", "天", "向上"))
    // mixed text keeps text order; latin splits on whitespace
    assert(toks("fast 数据 engine") == Seq("fast", "数据", "engine"))
    // stop words filtered AFTER segmentation, Han and latin alike
    assert(toks("the 数据的引擎 end", stop = Seq("the", "的")) ==
      Seq("数据", "引擎", "end"))
    // case folding by default; preserved when caseSensitive
    assert(toks("The QUICK") == Seq("the", "quick"))
    assert(toks("The QUICK", cs = true) == Seq("The", "QUICK"))
    // case-insensitive stop words match folded text
    assert(toks("The quick", stop = Seq("THE")) == Seq("quick"))
    // null text → null, empty text → empty array
    val nullRow = Seq(Option.empty[String]).toDF("t")
      .select(T.tokensDict($"t", dict)).head()
    assert(nullRow.isNullAt(0))
    assert(toks("") == Seq.empty)
    // THE classic ambiguous boundary (SURVEY §7.4's fidelity risk): the
    // DAG max-probability route segments 研究/生命/起源 — two dict words
    // beat 研究生 + OOV 命 — while greedy FMM commits to 研究生 at
    // position 0 and never recovers. Jieba agrees with the DAG result.
    val ambDict = Seq("研究", "研究生", "生命", "起源")
    def amb(fmm: Boolean) = Seq("研究生命起源").toDF("t")
      .select(T.tokensDict($"t", ambDict, fmm = fmm)).head().getSeq[String](0)
    assert(amb(fmm = false) == Seq("研究", "生命", "起源"))
    assert(amb(fmm = true) == Seq("研究生", "命", "起源"))
    // explicit frequencies steer the route like a real jieba dict: making
    // 研究生 overwhelmingly frequent flips the DAG to the FMM reading
    val skewed = Seq("研究生命起源").toDF("t")
      .select(T.tokensDict($"t", ambDict,
        freqs = Seq(2L, 1000000L, 2L, 2L))).head().getSeq[String](0)
    assert(skewed == Seq("研究生", "命", "起源"))
  }

  test("HMM OOV pass: multi-char OOV names segment as words (jieba cut default)") {
    val dict = Seq("数据", "引擎", "向上")
    def toks(t: String, hmm: Boolean) = Seq(t).toDF("t")
      .select(T.tokensDict($"t", dict, hmm = hmm)).head().getSeq[String](0)
    // 2-char OOV name 王磊: HMM=False spells it out, HMM=True buffers the
    // single-char route outputs and the BMES Viterbi makes it ONE word
    assert(toks("王磊数据引擎", hmm = false) == Seq("王", "磊", "数据", "引擎"))
    assert(toks("王磊数据引擎", hmm = true) == Seq("王磊", "数据", "引擎"))
    // 3-char OOV name → BME → one word; 4-char OOV span → the transition
    // model's pair prior (BEBE), exactly jieba's shape on unknown runs
    assert(toks("欧阳锋", hmm = true) == Seq("欧阳锋"))
    assert(toks("阿尔法狗", hmm = true) == Seq("阿尔", "法狗"))
    assert(toks("天天向上", hmm = true) == Seq("天天", "向上"))
    // buffered span flushes at a dict word and at the end of the Han run
    assert(toks("数据王磊", hmm = true) == Seq("数据", "王磊"))
    // jieba's dict-word-buffer quirk: when the route spelled a span as
    // single-char DICT words and the whole span is also a dict word, the
    // buffer re-emits per character (never re-merged by the HMM)
    val charDict = Seq("天", "地", "天地")
    val quirk = Seq("天地").toDF("t")
      .select(T.tokensDict($"t", charDict,
        freqs = Seq(1000L, 1000L, 1L), hmm = true)).head().getSeq[String](0)
    assert(quirk == Seq("天", "地"))
  }

  test("HMM emission table is data: a real prob_emit changes an OOV boundary") {
    val dict = Seq("数据", "引擎", "向上")
    // a prob_emit-style table (char → B/M/E/S log-probs): in this model
    // 欧 is word-initial, 阳 word-final, 锋 a strongly SINGLE character
    val emis = Map(
      "欧" -> Seq(-0.1, -9.0, -9.0, -5.0),
      "阳" -> Seq(-5.0, -9.0, -0.3, -5.0),
      "锋" -> Seq(-9.0, -9.0, -9.0, -0.1))
    def toks(t: String, e: Map[String, Seq[Double]]) = Seq(t).toDF("t")
      .select(T.tokensDict($"t", dict, hmm = true, emissions = e))
      .head().getSeq[String](0)
    // uniform emissions: the transition model's shape prior makes the
    // 3-char OOV run one BME word — which this emission table says is
    // wrong for these characters
    assert(toks("欧阳锋", Map.empty) == Seq("欧阳锋"))
    // the per-character evidence flips the boundary: 欧阳 + 锋
    assert(toks("欧阳锋", emis) == Seq("欧阳", "锋"))
    // chars absent from a non-empty table carry no evidence (0.0 in
    // every state), so unknown spans still follow the transition prior
    assert(toks("王磊数据", emis) == Seq("王磊", "数据"))
  }

  test("derived emission table: dict-as-corpus statistics steer OOV boundaries") {
    import org.apache.spark.sql.graftnative.DictTokens
    val dict = Seq("数据", "引擎", "向上", "欧洲", "太阳", "锋")
    val e = DictTokens.deriveEmitP(dict)
    // structure: every vocab char carries 4 finite log-probs
    assert(e.keySet == dict.flatMap(_.map(_.toString)).toSet)
    assert(e.values.forall(l => l.length == 4 && l.forall(d =>
      !d.isNaN && !d.isInfinite && d < 0.0)))
    // the statistics point the right way (state order B=0 M=1 E=2 S=3):
    // 欧 is word-INITIAL in the dict (欧洲), 阳 word-FINAL (太阳), 锋 a
    // SINGLE-char word
    assert(e("欧")(0) > e("欧")(3) && e("欧")(0) > e("欧")(2))
    assert(e("阳")(2) > e("阳")(0))
    assert(e("锋")(3) > e("锋")(0) && e("锋")(3) > e("锋")(2))
    // behavior: uniform emissions make the 3-char OOV run one BME word;
    // the derived evidence (欧=B, 阳=E, 锋=S) flips it to 欧阳|锋
    def toks(t: String, em: Map[String, Seq[Double]]) = Seq(t).toDF("t")
      .select(T.tokensDict($"t", dict, hmm = true, emissions = em))
      .head().getSeq[String](0)
    assert(toks("欧阳锋", Map.empty) == Seq("欧阳锋"))
    assert(toks("欧阳锋", T.deriveEmissions(dict)) == Seq("欧阳", "锋"))
    // chars with no dictionary evidence still follow the word-shape
    // prior: the unseen 2-char name stays one word
    assert(toks("王磊数据", T.deriveEmissions(dict)) == Seq("王磊", "数据"))
    // frequency weighting is live: crank 单-char 锋 and the flat default
    // still derives (no NaN) — and an explicit freq table parallel to
    // dict is accepted
    val ef = DictTokens.deriveEmitP(dict, Seq(500L, 500L, 500L, 500L, 500L, 5L))
    assert(ef("锋")(3) > ef("锋")(0))
  }

  test("inverted index built with the dictionary tokenizer routes CJK queries") {
    val df = Seq(
      (1L, "预训练 数据引擎"), (2L, "向量检索 引擎"), (3L, "plain latin text"))
      .toDF("id", "t")
    val dict = Seq("数据", "引擎", "向量", "检索", "预训练")
    val idx = InvertedIndex.build(df, "t", "id",
      tokenizer = T.tokensDict(_, dict))
    val hits = idx.filter($"term" === "引擎").select("id")
      .as[Long].collect().toSet
    assert(hits == Set(1L, 2L))
    assert(idx.filter($"term" === "预训练").select("id")
      .as[Long].collect().toSet == Set(1L))
  }

  test("quality + language heuristics are deterministic") {
    val df = Seq(
      "the cat sat on the mat and the dog is here",
      "der hund und die katze ist da",
      "xyzzy qwerty").toDF("t")
    val langs = df.select(T.langId($"t")).as[String].collect().toSeq
    assert(langs == Seq("en", "de", "und"))
    val q = df.select(T.qualityScore($"t")).as[Double].collect()
    assert(q.forall(x => x >= 0.0 && x <= 1.0))
  }

  test("exact dedup groups identical normalized text") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other"))
      .toDF("id", "t")
      .withColumn("t", lower($"t"))
    val out = Dedup.exact(df, "t", "id")
    assert(out.count() == 2)
    assert(out.filter($"dup_count" === 2).head().getLong(1) == 1L) // min id kept
  }

  test("dedupCorpus keeps the lowest-id full row per duplicate group") {
    val df = Seq((5L, "same text", "keepB"), (2L, "same  TEXT ", "keepA"),
      (9L, "unique", "u")).toDF("id", "t", "tag")
      .withColumn("t", lower($"t"))
    val out = Dedup.dedupCorpus(df, "t", "id")
      .orderBy("id").as[(Long, String, String)].collect().toSeq
    assert(out.map(_._1) == Seq(2L, 9L))
    assert(out.head._3 == "keepA") // the whole surviving row, not just id
  }

  test("incremental exact dedup: fingerprint state drops corpus + batch dups") {
    val corpus = Seq((0L, "seen before"), (2L, "also seen")).toDF("id", "t")
    val delta = Seq(
      (11L, "Seen   BEFORE "), // normalizes to a corpus fingerprint
      (13L, "brand new doc"),
      (15L, "brand new doc"),  // within-batch dup, higher id
      (17L, "another fresh one")).toDF("id", "t")
    val state = Dedup.exactState(corpus, "t")
    assert(state.columns.toSeq == Seq("_fp") && state.count() == 2)
    val out = Dedup.exactIncremental(state, delta, "t", "id")
    assert(out.columns.toSeq == Seq("id", "t"), "full rows come back")
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(13L, 17L))
    // carry-forward: the next increment sees first-increment survivors
    val carried = state.union(Dedup.exactState(out, "t")).distinct()
    val delta2 = Seq((20L, "brand new doc"), (21L, "genuinely unseen"))
      .toDF("id", "t")
    assert(Dedup.exactIncremental(carried, delta2, "t", "id")
      .select("id").as[Long].collect().toSeq == Seq(21L))
  }

  test("ngram jaccard: exact values, length filter keeps true pairs") {
    val df = Seq(
      (1L, "a b c d e"),   // shingles(2): ab bc cd de
      (2L, "a b c d x"),   // ab bc cd dx  → inter 3, union 5 → 0.6
      (3L, "z z z z z"))
      .toDF("id", "t")
    val pairs = Dedup.ngramJaccardPairs(df, "t", "id", 2, 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 0.6)))
  }

  test("prefix-filtered jaccard pairs == brute force on a random corpus") {
    val rnd = new scala.util.Random(19)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val docs = (0L until 60L).map { i =>
      val n = 3 + rnd.nextInt(8)
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val df = docs.toDF("id", "t")
    val t = 0.3
    val got = Dedup.ngramJaccardPairs(df, "t", "id", 2, t)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // driver-side brute force over the same distinct-bigram sets
    def shingles(s: String): Set[String] =
      s.split(" ").filter(_.nonEmpty).sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")).toSet
    val sets = docs.map { case (i, s) => i -> shingles(s) }
      .filter(_._2.nonEmpty)
    val want = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa intersect sb).size
      j = inter.toDouble / (sa.size + sb.size - inter)
      if j >= t
    } yield (ia, ib) -> j).toMap
    assert(got.keySet == want.keySet,
      s"missing ${want.keySet -- got.keySet}, extra ${got.keySet -- want.keySet}")
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-12) }
  }

  test("minhash LSH finds near-identical docs and verifies jaccard") {
    val docs = (0L until 20L).map(i => (i, s"unique document number $i with content " +
      s"word${i}a word${i}b word${i}c word${i}d word${i}e word${i}f")) ++
      Seq((100L, "identical text repeated across documents pad pad pad pad pad"),
        (101L, "identical text repeated across documents pad pad pad pad pad"))
    val df = docs.toDF("id", "t")
    val out = Dedup.minHashLsh(df, "t", "id", numHashes = 16, bands = 4,
      shingleN = 2, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((100L, 101L, 1.0)))
    // the engine-portable md5 Carter-Wegman family finds the same dup
    // pair (identical docs collide in every band under ANY hash family)
    val portable = Dedup.minHashLsh(df, "t", "id", numHashes = 16,
      bands = 4, shingleN = 2, threshold = 0.9, portable = true)
      .as[(Long, Long, Double)].collect().toSeq
    assert(portable == Seq((100L, 101L, 1.0)))
  }

  test("incremental minhash dedup: delta vs corpus state, never corpus×corpus") {
    // corpus: two unique docs + one doc (id 2) the delta will duplicate
    val corpusDocs = Seq(
      (0L, "alpha corpus document with many unique alpha tokens here"),
      (1L, "beta corpus document carrying its own beta token stream"),
      (2L, "gamma corpus document that the delta batch will repeat"))
    // delta: 10 = dup of corpus 2; 11 = unique; 12 = dup of 11 (within
    // delta, higher id); 13 = unique; 14 = too short to shingle
    val deltaDocs = Seq(
      (10L, "gamma corpus document that the delta batch will repeat"),
      (11L, "delta only document with fresh delta content entirely new"),
      (12L, "delta only document with fresh delta content entirely new"),
      (13L, "another standalone delta document nothing matches this one"),
      (14L, "tiny"))
    val corpus = corpusDocs.toDF("id", "t")
    val delta = deltaDocs.toDF("id", "t")
    val state = Dedup.minHashState(corpus, "t", "id", numHashes = 16,
      shingleN = 2)
    assert(state.columns.toSeq == Seq("id", "_sh", "_mh"))
    val out = Dedup.minHashLshIncremental(state, delta, "t", "id",
        numHashes = 16, bands = 4, shingleN = 2, threshold = 0.9)
      .select("id").as[Long].collect().sorted.toSeq
    // 10 drops (corpus dup), 12 drops (within-delta dup of 11),
    // 11/13 survive, 14 survives (unshingleable)
    assert(out == Seq(11L, 13L, 14L))
    // portable family: same survivors, and the state round-trips the
    // carry-forward pattern (state ∪ survivors' state)
    val pState = Dedup.minHashState(corpus, "t", "id", numHashes = 16,
      shingleN = 2, portable = true)
    val pOut = Dedup.minHashLshIncremental(pState, delta, "t", "id",
      numHashes = 16, bands = 4, shingleN = 2, threshold = 0.9,
      portable = true)
    assert(pOut.select("id").as[Long].collect().sorted.toSeq ==
      Seq(11L, 13L, 14L))
    val carried = pState.unionByName(Dedup.minHashState(
      pOut.select(col("id"), col("t")), "t", "id", numHashes = 16,
      shingleN = 2, portable = true))
    // a SECOND increment duplicating a first-increment survivor drops it
    val delta2 = Seq(
      (20L, "delta only document with fresh delta content entirely new"),
      (21L, "second wave document that duplicates nothing at all ever"))
      .toDF("id", "t")
    val out2 = Dedup.minHashLshIncremental(carried, delta2, "t", "id",
        numHashes = 16, bands = 4, shingleN = 2, threshold = 0.9,
        portable = true)
      .select("id").as[Long].collect().sorted.toSeq
    assert(out2 == Seq(21L))
    // plan shape: bucket equi-joins only — no cartesian, no
    // broadcast-nested-loop anywhere in the physical plan
    val plan = Dedup.minHashLshIncremental(state, delta, "t", "id",
        numHashes = 16, bands = 4, shingleN = 2, threshold = 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
  }

  test("incremental simhash dedup: matches a brute-force fingerprint twin") {
    val corpusDocs = Seq(
      (0L, "alpha corpus document with many unique alpha tokens here"),
      (1L, "beta corpus document carrying its own beta token stream"),
      (2L, "gamma corpus document that the delta batch will repeat"))
    // 10 = exact dup of corpus 2; 11 unique; 12 = dup of 11 (higher id);
    // 13 unique; 14 single-token (fingerprint of one token, no pair)
    val deltaDocs = Seq(
      (10L, "gamma corpus document that the delta batch will repeat"),
      (11L, "delta only document with fresh delta content entirely new"),
      (12L, "delta only document with fresh delta content entirely new"),
      (13L, "another standalone delta document nothing matches this one"),
      (14L, "tiny"))
    val corpus = corpusDocs.toDF("id", "t")
    val delta = deltaDocs.toDF("id", "t")
    val r = 3
    val state = Dedup.simHashState(corpus, "t", "id")
    assert(state.columns.toSeq == Seq("id", "_fp"))
    val out = Dedup.simHashIncremental(state, delta, "t", "id",
        maxHamming = r, maxBucket = Int.MaxValue)
      .select("id").as[Long].collect().sorted.toSeq

    // brute-force twin: recompute every fingerprint, apply the drop rule
    // (state within r, or ANY earlier delta row within r) literally
    val cfp = state.as[(Long, Long)].collect().toMap
    val dfp = Dedup.simHashState(delta, "t", "id")
      .as[(Long, Long)].collect().sortBy(_._1)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val expect = dfp.collect { case (id, fp)
      if !cfp.values.exists(ham(_, fp) <= r) &&
         !dfp.exists { case (i2, f2) => i2 < id && ham(f2, fp) <= r } => id
    }.toSeq
    assert(out == expect)
    assert(out.contains(11L) && !out.contains(10L) && !out.contains(12L),
      s"corpus dup and within-delta dup must drop: $out")

    // carry-forward: a second increment duplicating a survivor drops it
    val carried = state.unionByName(Dedup.simHashState(
      Dedup.simHashIncremental(state, delta, "t", "id", r, Int.MaxValue),
      "t", "id"))
    val delta2 = Seq(
      (20L, "delta only document with fresh delta content entirely new"),
      (21L, "second wave document that duplicates nothing at all ever"))
      .toDF("id", "t")
    assert(Dedup.simHashIncremental(carried, delta2, "t", "id", r,
        Int.MaxValue)
      .select("id").as[Long].collect().toSeq == Seq(21L))

    // plan shape: band-bucket equi-joins only
    val plan = Dedup.simHashIncremental(state, delta, "t", "id", r)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
  }

  test("simhash: identical text → identical fingerprint, hamming 0") {
    val df = Seq("spark native analytics engine", "spark native analytics engine",
      "completely different words here").toDF("t")
      .select(Dedup.simHash32($"t").as("h"))
    val hs = df.as[Long].collect()
    assert(hs(0) == hs(1))
    assert(df.select(Dedup.hamming(lit(hs(0)), lit(hs(2)))).head().getInt(0) > 0)
  }

  test("simhash near-dup: banded candidates + hamming verify") {
    val base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    val docs = Seq(
      (1L, base), (2L, base), // identical
      (3L, base.replace("beta", "BETA")), // near
      (4L, "completely different content words entirely unrelated here"))
      .toDF("id", "t")
    val out = Dedup.simHashNearDup(docs, "t", "id", maxHamming = 8)
      .as[(Long, Long, Int)].collect().toSeq
    assert(out.contains((1L, 2L, 0))) // identical → hamming 0
    assert(out.forall(_._3 <= 8))
    assert(!out.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simHash bands: a full-width 64-bit band masks correctly") {
    // maxHamming = 0 over a 64-bit fingerprint makes ONE 64-bit band:
    // `(1L << 64)` wraps to 1 in JVM shift semantics, so the old mask of
    // 0 threw every doc into bucket 0 — the flood guard then dropped the
    // lone oversized bucket and an exact-duplicate query silently
    // returned ZERO pairs
    val docs = (0 until 70).map(i => (i.toLong, s"distinct doc $i")) ++
      Seq((100L, "the same text"), (101L, "the same text"))
    val pairs = Dedup.simHashNearDup(docs.toDF("id", "t"), "t", "id",
        maxHamming = 0, maxBucket = 64,
        fingerprint = Dedup.Fingerprint(64, xxhash64(_)))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((100L, 101L)),
      s"full-width band lost the exact-duplicate pair: $pairs")
  }

  test("embedding near-dup via RP-LSH blocks matches brute force") {
    val rnd = new scala.util.Random(7)
    def vec() = Seq.fill(16)(rnd.nextFloat() * 2 - 1)
    val base = vec()
    val near = base.zipWithIndex.map { case (x, i) =>
      if (i == 0) x + 0.01f else x }
    val rows = Seq((0L, base), (1L, base), (2L, near)) ++
      (3L until 60L).map(i => (i, vec()))
    val df = rows.toDF("id", "emb")
    val lsh = Dedup.embeddingNearDupLsh(df, "emb", "id", threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute force over the same corpus (single block)
    val brute = Dedup.embeddingNearDup(
        df.withColumn("_one", lit(1)), "emb", "id", "_one", 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute.contains((0L, 1L)) && brute.contains((0L, 2L)))
    assert(lsh == brute) // full recall on near-identical pairs
  }

  test("portable RP-LSH: integer buckets match a driver-side recomputation") {
    val rnd = new scala.util.Random(11)
    val dim = 16
    val (planes, bands) = (6, 3)
    val vecs = (0L until 30L).map(i => (i, Seq.fill(dim)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("id", "emb")
    val w = org.apache.spark.sql.graftnative.RpLshBandsQ
      .planeWeights(bands, planes, dim)
    val got = df.select($"id",
        org.apache.spark.sql.graftnative.NativeExpressions.rpLshBandsQ(
          V.qint($"emb"), planes, bands, dim, w).as("b"))
      .as[(Long, Seq[Long])].collect().toMap
    // independent recomputation: same quantization, same weights, plain Scala
    vecs.foreach { case (id, v) =>
      val q = v.map(x => math.round(x.toDouble * 1e7))
      val exp = (0 until bands).map { b =>
        (0 until planes).foldLeft(0L) { (acc, p) =>
          val off = (b * planes + p) * dim
          val proj = (0 until dim).map(i => q(i) * w(off + i)).sum
          if (proj >= 0) acc | (1L << p) else acc
        }
      }
      assert(got(id) == exp, s"row $id")
    }
    // dimension mismatch → null buckets (row generates no candidates)
    val bad = Seq((0L, Seq(1.0f, 2.0f))).toDF("id", "emb")
      .select(org.apache.spark.sql.graftnative.NativeExpressions.rpLshBandsQ(
        V.qint($"emb"), planes, bands, dim, w))
      .head()
    assert(bad.isNullAt(0))
    // full portable pipeline: identical vectors collide in every band
    val base = Seq.fill(dim)(0.3f)
    val corpus = (Seq((100L, base), (101L, base)) ++ vecs.map {
      case (i, v) => (i, v) }).toDF("id", "emb")
    val pairs = Dedup.embeddingNearDupLsh(corpus, "emb", "id",
        threshold = 0.999, planesPerBand = planes, bands = bands,
        portableDim = dim)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((100L, 101L)))
  }

  test("LSH near-dup with equalCols: label verified, no label-blocked join") {
    val rnd = new scala.util.Random(7)
    def vec() = Seq.fill(16)(rnd.nextFloat() * 2 - 1)
    val base = vec()
    // 0/1 same label + identical → pair; 0/2 identical but DIFFERENT label
    // → excluded by the equality constraint
    val rows = Seq((0L, 0, base), (1L, 0, base), (2L, 1, base)) ++
      (3L until 40L).map(i => (i, (i % 3).toInt, vec()))
    val df = rows.toDF("id", "label", "emb")
    val pairs = Dedup.embeddingNearDupLsh(df, "emb", "id", threshold = 0.99,
      equalCols = Seq("label"))
    assert(pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet ==
      Set((0L, 1L)))
    // scale shape: every join keys on high-cardinality attrs (ids /
    // band+bucket) — label equality must never be the ONLY join condition
    val joins = pairs.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty)
    joins.foreach { j =>
      val refs = j.condition.toSeq.flatMap(_.references.toSeq.map(_.name))
      assert(refs.exists(r => !r.contains("label")),
        s"label-only join condition in plan: $refs")
    }
  }

  test("LSH bucket cap drops oversized buckets instead of going quadratic") {
    val base = Seq.fill(16)(0.5f)
    val df = (0L until 30L).map(i => (i, base)).toDF("id", "emb")
    // 30 identical vectors all land in one bucket per band; cap at 10 →
    // every bucket oversized → zero candidate pairs, zero output
    val capped = Dedup.embeddingNearDupLsh(df, "emb", "id",
      threshold = 0.99, maxBucket = 10)
    assert(capped.count() == 0)
    // with a big enough cap the same corpus yields all 30*29/2 pairs
    val full = Dedup.embeddingNearDupLsh(df, "emb", "id",
      threshold = 0.99, maxBucket = 2000)
    assert(full.count() == 30L * 29 / 2)
  }

  test("semanticDedup maxCell drops hot cells instead of going quadratic") {
    // one HOT cluster: 40 identical vectors (a boilerplate flood) plus a
    // far-away small cluster with one true near-dup pair
    val hot = (0L until 40L).map(i => (i, Seq.fill(8)(1.0f)))
    val cold = Seq(
      (100L, Seq.fill(8)(-1.0f)),
      (101L, Seq.fill(8)(-1.0f)),
      (102L, Seq(-1.0f, -1.0f, -1.0f, -1.0f, 1.0f, 1.0f, 1.0f, 1.0f)))
    val df = (hot ++ cold).toDF("vec_id", "embedding")
    val capped = Dedup.semanticDedup(df, "embedding", "vec_id",
        nlist = 4, threshold = 0.999, maxCell = 10)
      .as[(Long, Long, Double)].collect()
    // the 40-row cell is over the cap → none of its 780 pairs emitted;
    // the small cell still pairs exactly
    assert(capped.map(p => (p._1, p._2)).toSet == Set((100L, 101L)),
      s"got ${capped.toSeq}")
    // unbounded cap on the same corpus yields the full hot-cell clique
    val full = Dedup.semanticDedup(df, "embedding", "vec_id",
      nlist = 4, threshold = 0.999, maxCell = Int.MaxValue)
    assert(full.count() == 40L * 39 / 2 + 1)
  }

  test("scaled-int vector math is exact and order-independent") {
    val a = Seq(0.1f, 0.2f, 0.3f)
    val b = Seq(0.3f, 0.2f, 0.1f)
    val df = Seq((a, b)).toDF("a", "b")
    val dot = df.select(V.dotScaled($"a", $"b")).head().getLong(0)
    assert(dot == (3L*1 + 2*2 + 1*3) * 1000000L * 1000000L / 1000000L * 1000000L
      || dot == 100000000000000L) // 0.1*0.3+0.2*0.2+0.3*0.1 = 0.10 on 1e14 grid
    val cos = df.select(V.cosineScaled($"a", $"a")).head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
  }

  test("decontaminate flags docs by distinct shingle overlap with a benchmark") {
    val corpus = Seq(
      (1L, "a b c d e"),       // bigrams: ab bc cd de → overlap 4
      (2L, "a b c x y"),       // ab bc → overlap 2
      (3L, "p q r s t"),       // none
      (4L, "c d e f g")        // cd de → overlap 2
    ).toDF("doc_id", "text")
    val bench = Seq("a b c d e").toDF("text")
    val got = Dedup.decontaminate(corpus, "text", "doc_id", bench, "text",
        shingleN = 2, minOverlap = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 4L, 2L -> 2L, 4L -> 2L)) // doc 3 clean
  }

  test("semanticDedup: IVF cells as blocks, exact duplicates always pair") {
    // 40 base vectors + 5 exact duplicates of vec 0..4 (ids 100..104)
    val base = (0 until 40).map(i => (i.toLong,
      (0 until 8).map(j => math.sin(i * 31 + j).toFloat)))
    val dups = (0 until 5).map(i => (100L + i, base(i)._2))
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val pairs = Dedup.semanticDedup(df, "embedding", "vec_id",
        nlist = 8, threshold = 0.999)
      .as[(Long, Long, Double)].collect()
    // soundness: every reported pair really is >= threshold
    assert(pairs.forall(_._3 >= 0.999))
    // completeness for exact duplicates: same vector ⇒ same cell ⇒ found
    val found = pairs.map(p => (p._1, p._2)).toSet
    (0 until 5).foreach(i =>
      assert(found.contains((i.toLong, 100L + i)), s"missed dup $i"))
  }
}
