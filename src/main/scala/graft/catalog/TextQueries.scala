package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.operators.{Cond, Dedup, FilterVectorized, InvertedIndex, Sampling}
import graft.functions.{TextFunctions => T}

/** Text-search operator inventory (SURVEY.md §2.2 CONTAINS/LIKE, §2.6
  * inverted index) plus the LLM-pipeline text-analysis layer (token
  * counting, quality scoring, language-ID, fingerprinting, dedup).
  * The oracle tokenizer contract: whitespace split (`string_split` in
  * DuckDB == split(' ') in Spark, empties removed).
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Persisted inverted index over documents.text, built ONCE per sf dir
    * (indexed search semantics: the reference's create_index_vectorized is
    * a separate op; queries run against the existing index — building it
    * inside every search would measure the wrong thing). The saved index
    * carries the stats sidecar, so search() gets its broadcast hint from a
    * driver-side file read, no planning-time job.
    */
  private val idxCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def docsIndexPath(s: SparkSession, dir: String): String =
    idxCache.computeIfAbsent(dir, d => {
      val p = java.nio.file.Files.createTempDirectory("graft-docs-idx")
        .toAbsolutePath.toString
      InvertedIndex.save(InvertedIndex.build(docs(s, d), "text", "doc_id"), p)
      p
    })

  // DuckDB-side whitespace tokens with empties removed.
  private[catalog] val duckToks =
    "list_filter(string_split(text, ' '), x -> x <> '')"

  /** DuckDB list of space-joined token n-grams over a token-list column —
    * the oracle twin of [[graft.functions.TextFunctions.tokenShingles]]'s
    * pre-distinct n-gram stream. Parameterized by the SAME `n` the Spark
    * side passes (q50/q84/q85), so changing n in a query cannot silently
    * desynchronize its oracle. Slices are 1-based and inclusive:
    * `ts[i:i+(n-1)]` is n tokens; valid starts are `1 .. len-(n-1)`,
    * i.e. `range(1, len(ts) - (n-2))`; docs shorter than n have none.
    */
  private[catalog] def duckNgrams(ts: String, n: Int): String = {
    require(n >= 2, s"bad n $n")
    s"[list_aggregate($ts[i:i+${n - 1}], 'string_agg', ' ') " +
      s"FOR i IN range(1, len($ts) - ${n - 2})]"
  }

  /** Single-quote escape for interpolating arbitrary strings (regex
    * patterns included) into DuckDB single-quoted literals. */
  private def sq(s: String): String = s.replace("'", "''")

  // q86 fixture tail appended to every doc (must be SQL-quote-safe).
  private val piiSuffix =
    "@mail.example.com or 555-867-5309 ssn 123-45-6789 badge 4481"

  /** DuckDB CTE chain reproducing [[Dedup.simHash60Md5]] bit-for-bit:
    * md5-derived 60-bit token hash, per-bit ±1 vote sums via a
    * range(0,60) lateral, sign fold → fingerprint. Shared by q67
    * (fingerprints) and q51 (hamming-banded near-dup pairs). The final
    * `fp` CTE is COMPLETE over all docs: NULL/tokenless texts produce no
    * token rows, so their votes are absent and the left join coalesces
    * them to fingerprint 0 — exactly what the Spark side's
    * `coalesce(simhash, 0)` yields for the same docs.
    */
  val duckSimHash60: String =
    """WITH tk AS (SELECT doc_id,
          list_filter(string_split(text, ' '), x -> x <> '') AS ts
        FROM documents),
      ex AS (SELECT doc_id, UNNEST(ts) AS t FROM tk),
      hs AS (SELECT doc_id,
          CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h FROM ex),
      votes AS (SELECT doc_id, b,
          SUM(CASE WHEN (h >> CAST(b AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM hs, range(0, 60) r(b) GROUP BY 1, 2),
      fp0 AS (SELECT doc_id, CAST(SUM(CASE WHEN v > 0
            THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER))
            ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
        FROM votes GROUP BY 1),
      fp AS (SELECT tk.doc_id, COALESCE(fp0.simhash, 0) AS simhash
        FROM tk LEFT JOIN fp0 USING (doc_id))"""

  val all: Seq[QueryDef] = Seq(

    // CONTAINS = token containment (fuzzy_match single-term)
    QueryDef("q40_text_contains",
      (s, dir) => FilterVectorized(docs(s, dir),
          Seq(Cond("text", "CONTAINS", "vector")))
        .select("doc_id", "lang").orderBy("doc_id"),
      Some(s"""SELECT doc_id, lang FROM documents
        WHERE list_contains($duckToks, 'vector') ORDER BY doc_id""")),

    // fuzzy_match: ALL tokens must appear (AND of tokens)
    QueryDef("q41_text_fuzzy_and",
      (s, dir) => FilterVectorized(docs(s, dir),
          Seq(Cond("text", "CONTAINS", "vector join window")))
        .select("doc_id").orderBy("doc_id"),
      Some(s"""SELECT doc_id FROM documents
        WHERE list_contains($duckToks, 'vector')
          AND list_contains($duckToks, 'join')
          AND list_contains($duckToks, 'window') ORDER BY doc_id""")),

    // complex_fuzzy_match: "a b||c d" = (a AND b) OR (c AND d)
    QueryDef("q42_text_complex_or",
      (s, dir) => FilterVectorized(docs(s, dir),
          Seq(Cond("text", "CONTAINS", "vector join||stream batch")))
        .select("doc_id").orderBy("doc_id"),
      Some(s"""SELECT doc_id FROM documents
        WHERE (list_contains($duckToks, 'vector') AND list_contains($duckToks, 'join'))
           OR (list_contains($duckToks, 'stream') AND list_contains($duckToks, 'batch'))
        ORDER BY doc_id""")),

    // the same CONTAINS routed through the PERSISTED posting-table index:
    // shard-pruned scan + stats-bounded broadcast semi-join
    QueryDef("q43_text_contains_indexed",
      (s, dir) => {
        val path = docsIndexPath(s, dir)
        val idx = InvertedIndex.load(s, path)
        val stats = InvertedIndex.loadStats(s, path)
        InvertedIndex.search(docs(s, dir), "doc_id", idx,
            "vector join||stream batch", numShards = Some(16), stats = stats)
          .select("doc_id").orderBy("doc_id")
      },
      Some(s"""SELECT doc_id FROM documents
        WHERE (list_contains($duckToks, 'vector') AND list_contains($duckToks, 'join'))
           OR (list_contains($duckToks, 'stream') AND list_contains($duckToks, 'batch'))
        ORDER BY doc_id""")),

    // index RESHARD + OPTIMIZE lifecycle, oracle-checked: build at 4
    // shards, delta-update after an append (mixed persisted/delta
    // postings), then reshard to 16 — a full posting rewrite under the
    // new shard function — and optimize. The complex CONTAINS routes
    // through the resharded index with 16-shard partition pruning; a
    // shard mis-route after the rewrite silently loses matches, which
    // the containment oracle catches row-for-row.
    QueryDef("q111_text_index_reshard",
      (s, dir) => {
        val d = docs(s, dir).select("doc_id", "text")
        val root = graft.QueryCleanup.tempRoot("q111")
        val ds = graft.format.GraftDataset.create(s, root, d.schema)
        ds.append(d.filter(col("doc_id") % 2 === 0))
        ds.commit("even half")
        ds.createIndexVectorized("text", numShards = 4)
        ds.append(d.filter(col("doc_id") % 2 === 1))
        ds.commit("odd half")
        ds.updateIndexVectorized("text")
        ds.reshardIndex("text", newNumShards = 16)
        ds.optimizeIndex("text")
        ds.textSearch("text", "vector join||stream batch")
          .select("doc_id").orderBy("doc_id")
      },
      Some(s"""SELECT doc_id FROM documents
        WHERE (list_contains($duckToks, 'vector') AND list_contains($duckToks, 'join'))
           OR (list_contains($duckToks, 'stream') AND list_contains($duckToks, 'batch'))
        ORDER BY doc_id""")),

    // REAL audio decode, oracle-checked (r14): 64 valid 8-bit PCM WAV
    // payloads built from doc-id arithmetic, decoded by the javax.sound
    // path into rate/frames/duration/mean-|amplitude|, then grouped.
    // Every quantity is EXACT dyadic arithmetic (|v-128|/128 sums, /2^k
    // divisions), so DuckDB restates the decode's expected output from
    // generate_series with bit-identical doubles — a real full-decode
    // oracle for the multimodal row, no codec needed oracle-side.
    QueryDef("q124_multimodal_audio_decode",
      (s, dir) => {
        def wav(samples: Array[Byte]): Array[Byte] = {
          val bb = java.nio.ByteBuffer.allocate(44 + samples.length)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + samples.length)
            .put("WAVE".getBytes("US-ASCII"))
            .put("fmt ".getBytes("US-ASCII")).putInt(16)
            .putShort(1).putShort(1) // PCM, mono
            .putInt(8000).putInt(8000).putShort(1).putShort(8)
            .put("data".getBytes("US-ASCII")).putInt(samples.length)
            .put(samples)
          bb.array()
        }
        import s.implicits._
        val rows = (0 until 64).map { i =>
          (i.toLong, wav(Array.tabulate(2048)(j =>
            ((i * 31 + j * 7) % (64 * (i % 4 + 1))).toByte)))
        }
        val df = rows.toDF("id", "audio_bytes")
        graft.operators.Multimodal.decodeAudio(df, "audio")
          .groupBy((col("id") % 4).as("grp"))
          .agg(count(lit(1)).as("n"),
            sum(col("num_frames")).as("frames"),
            avg(col("mean_amplitude")).as("amp"),
            sum(col("sample_rate")).as("rates"))
          .orderBy("grp")
      },
      Some("""WITH m AS (
          SELECT i, SUM(ABS(((i*31 + j*7) % (64*(i%4+1))) - 128) / 128.0)
              / 2048 AS row_mean
          FROM generate_series(0, 63) t(i), generate_series(0, 2047) u(j)
          GROUP BY i)
        SELECT CAST(i % 4 AS BIGINT) AS grp, COUNT(*) AS n,
          CAST(COUNT(*) * 2048 AS BIGINT) AS frames,
          AVG(row_mean) AS amp,
          CAST(COUNT(*) * 8000 AS BIGINT) AS rates
        FROM m GROUP BY 1 ORDER BY 1""")),

    // media FILE ingest, oracle-checked (r14): documents' texts written
    // as real files, then pulled back through BOTH ingest surfaces —
    // the binaryFile source (`muller.read` directory scan) and
    // attachBinary (path-column rows → executor-side Hadoop reads,
    // distinct paths read once). Each surface's md5 must equal the
    // oracle's digest of the original text — a dropped, truncated, or
    // cross-wired payload on either path breaks the hash.
    QueryDef("q125_media_file_ingest",
      (s, dir) => {
        val d = docs(s, dir).filter(col("doc_id") < 200)
          .select("doc_id", "text")
        val base = graft.QueryCleanup.tempRoot("q125")
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(base))
        d.collect().foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(base, f"doc_${r.getLong(0)}%06d.txt"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        val scanned = graft.sources.IO.readBinaryFiles(s, base, "*.txt")
          .select(
            regexp_extract(col("path"), "doc_(\\d+)\\.txt$", 1)
              .cast("long").as("doc_id"),
            col("length"), md5(col("content")).as("scan_digest"))
        val attached = graft.sources.IO.attachBinary(
            d.select(col("doc_id"),
              concat(lit(s"$base/doc_"),
                format_string("%06d", col("doc_id")), lit(".txt"))
                .as("path")),
            "path")
          .select(col("doc_id"), md5(col("path_bytes")).as("attach_digest"))
        scanned.join(attached, "doc_id")
          .select("doc_id", "length", "scan_digest", "attach_digest")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
          CAST(octet_length(encode(text)) AS BIGINT) AS length,
          md5(text) AS scan_digest, md5(text) AS attach_digest
        FROM documents WHERE doc_id < 200 ORDER BY doc_id""")),

    // tiled ingest round-trip, oracle-checked: each doc's UTF-8 bytes
    // split into 64-byte tile ROWS (explode + binary substring), then
    // reassemble in an ordered binary-concat aggregation. The oracle
    // states both halves in SQL: the tile count is ceil(bytes/64) and
    // the reassembled payload's md5 must equal the original's — any
    // mis-ordered, dropped, or duplicated tile breaks the digest.
    QueryDef("q110_multimodal_tiles",
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"),
          encode(col("text"), "UTF-8").as("doc_bytes"))
        val tiled = graft.operators.Multimodal.tile(d, "doc", tileBytes = 64)
        val counts = tiled.groupBy("doc_id")
          .agg(count(lit(1)).as("n_tiles"))
        val back = graft.operators.Multimodal
          .assemble(tiled, "doc", Seq("doc_id"))
          .select(col("doc_id"), md5(col("doc_bytes")).as("digest"))
        counts.join(back, "doc_id")
          .select("doc_id", "n_tiles", "digest").orderBy("doc_id")
      },
      Some("""SELECT doc_id,
          GREATEST(1, CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT))
            AS n_tiles,
          md5(text) AS digest
        FROM documents ORDER BY doc_id""")),

    // dictionary CJK tokenizer with stop words + case folding: the text is
    // CONSTRUCTED per row (doc_id-dependent Han words around the latin
    // corpus words), so the DuckDB oracle can state the expected
    // segmentation as literals — no segmenter needed oracle-side.
    // Dictionary words segment as units via the DAG max-probability
    // route, OOV Han chars come out as single characters, '的'/'the' are
    // stop-filtered, 'The'/'Fox' fold. The doc_id%4==3 branch is THE
    // classic ambiguous boundary: the DAG picks 研究/生命/起源 (jieba's
    // answer) where greedy FMM would commit to 研究生/命/起源.
    QueryDef("q77_cjk_dict_tokens",
      (s, dir) => {
        val zh = when(col("doc_id") % 4 === 0, lit("数据的引擎"))
          .when(col("doc_id") % 4 === 1, lit("向量检索X快"))
          .when(col("doc_id") % 4 === 2, lit("天天向上"))
          .otherwise(lit("研究生命起源"))
        val text = concat(lit("The Quick "), zh, lit(" brown Fox"))
        docs(s, dir).select(col("doc_id"),
          concat_ws("|", T.tokensDict(text,
            dict = Seq("数据", "引擎", "向量", "检索", "向上",
              "研究", "研究生", "生命", "起源"),
            stopWords = Seq("的", "the"))).as("toks"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER)
          WHEN 0 THEN 'quick|数据|引擎|brown|fox'
          WHEN 1 THEN 'quick|向量|检索|x|快|brown|fox'
          WHEN 2 THEN 'quick|天|天|向上|brown|fox'
          ELSE 'quick|研究|生命|起源|brown|fox' END AS toks
        FROM documents ORDER BY doc_id""")),

    // jieba's cut(HMM=True) with a derived emission table: the dict
    // doubles as the tagged corpus (deriveEmitP), so OOV spans get
    // per-character B/M/E/S evidence. The text is constructed per row
    // (q77's trick) so the oracle states the segmentation as literals:
    // 欧阳锋 is NOT a dict word, but 欧 is word-initial (欧洲), 阳
    // word-final (太阳) and 锋 a single-char word, so the Viterbi flips
    // the uniform-emission answer 欧阳锋 to 欧阳|锋; 王磊 has no
    // evidence and follows the word-shape prior as ONE word.
    QueryDef("q100_cjk_hmm_emissions",
      (s, dir) => {
        val dict = Seq("数据", "引擎", "向上", "欧洲", "太阳", "锋")
        val zh = when(col("doc_id") % 3 === 0, lit("欧阳锋数据引擎"))
          .when(col("doc_id") % 3 === 1, lit("王磊数据"))
          .otherwise(lit("数据向上"))
        docs(s, dir).select(col("doc_id"),
          concat_ws("|", T.tokensDict(zh, dict, hmm = true,
            emissions = T.deriveEmissions(dict))).as("toks"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CASE CAST(doc_id % 3 AS INTEGER)
          WHEN 0 THEN '欧阳|锋|数据|引擎'
          WHEN 1 THEN '王磊|数据'
          ELSE '数据|向上' END AS toks
        FROM documents ORDER BY doc_id""")),

    // range_match (BETWEEN via numeric index in the reference)
    QueryDef("q44_text_range_match",
      (s, dir) => FilterVectorized(docs(s, dir),
          Seq(Cond("n_chars", "BETWEEN", Seq(100L, 200L))))
        .select("doc_id", "n_chars").orderBy("doc_id"),
      Some("""SELECT doc_id, n_chars FROM documents
        WHERE n_chars BETWEEN 100 AND 200 ORDER BY doc_id""")),

    // token counting
    QueryDef("q45_token_count",
      (s, dir) => docs(s, dir)
        .select(col("doc_id"), T.tokenCount(col("text")).as("n_tokens"),
          T.tokenEstimate(col("text")).as("bpe_estimate"))
        .orderBy("doc_id"),
      // outer CAST: DuckDB SUM(BIGINT) yields HUGEINT → float64 in pandas,
      // which breaks the driver's value-hash vs Spark's int64
      Some(s"""SELECT doc_id, len($duckToks) AS n_tokens,
        CAST((SELECT SUM(1 + CAST(FLOOR((length(x) - 1) / 4) AS BIGINT))
           FROM UNNEST($duckToks) AS u(x)) AS BIGINT) AS bpe_estimate
        FROM documents ORDER BY doc_id""")),

    // quality scoring: stopword ratio + mean word length, exact ratios
    QueryDef("q46_quality_features",
      (s, dir) => docs(s, dir)
        .select(col("doc_id"),
          T.stopwordCount(col("text")).as("stopword_hits"),
          aggregate(transform(T.tokens(col("text")), t => length(t).cast("long")),
            lit(0L), (a, v) => a + v).as("char_total"),
          T.tokenCount(col("text")).as("n_tokens"))
        .withColumn("mean_word_len",
          col("char_total").cast("double") / col("n_tokens").cast("double"))
        .withColumn("stopword_ratio",
          col("stopword_hits").cast("double") / col("n_tokens").cast("double"))
        .drop("char_total")
        .orderBy("doc_id"),
      Some(s"""WITH tk AS (SELECT doc_id, $duckToks AS toks FROM documents)
        SELECT doc_id,
          len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS stopword_hits,
          len(toks) AS n_tokens,
          CAST((SELECT SUM(length(x)) FROM UNNEST(toks) AS u(x)) AS DOUBLE) / len(toks) AS mean_word_len,
          CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE) / len(toks) AS stopword_ratio
        FROM tk ORDER BY doc_id""")),

    // language-ID heuristic: marker-token argmax
    QueryDef("q47_lang_id",
      (s, dir) => docs(s, dir)
        .select(col("doc_id"), col("lang"),
          T.langId(col("text")).as("lang_guess"))
        .groupBy("lang", "lang_guess").agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_guess"),
      Some(s"""WITH tk AS (SELECT doc_id, lang, $duckToks AS toks FROM documents),
        scored AS (SELECT lang,
          len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x))) AS s_de,
          len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS s_en,
          len(list_filter(toks, x -> list_contains(['el','la','de','que','es'], x))) AS s_es,
          len(list_filter(toks, x -> list_contains(['的','是','了','在','我'], x))) AS s_zh
          FROM tk),
        guessed AS (SELECT lang, CASE
          WHEN s_de >= GREATEST(s_en, s_es, s_zh) AND s_de > 0 THEN 'de'
          WHEN s_en >= GREATEST(s_es, s_zh) AND s_en > 0 THEN 'en'
          WHEN s_es >= s_zh AND s_es > 0 THEN 'es'
          WHEN s_zh > 0 THEN 'zh'
          ELSE 'und' END AS lang_guess FROM scored)
        SELECT lang, lang_guess, COUNT(*) AS n FROM guessed
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // md5 content fingerprint + exact dedup groups
    QueryDef("q48_fingerprint_md5",
      (s, dir) => docs(s, dir)
        .select(col("doc_id"), T.fingerprintMd5(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
        md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents ORDER BY doc_id""")),

    QueryDef("q49_dedup_exact",
      (s, dir) => Dedup.exact(docs(s, dir), "text", "doc_id")
        .select("doc_id", "dup_count").orderBy("doc_id"),
      Some("""SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
        FROM documents
        GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        ORDER BY 1""")),

    // incremental exact dedup: even doc_ids are the persisted corpus
    // fingerprint state; the new batch is the odd docs PLUS clones of
    // corpus docs (+100000, exact dups of the state) and clones of odd
    // docs (+200000, within-batch dups) — survivors are exactly the
    // odd originals, so both drop rules are non-vacuous while the whole
    // pipeline stays replayable in SQL.
    QueryDef("q102_dedup_exact_incremental",
      (s, dir) => {
        val d = docs(s, dir)
        val corpus = d.filter(col("doc_id") % 2 === 0)
        val delta = d.filter(col("doc_id") % 2 === 1)
          .unionByName(d.filter(col("doc_id") % 2 === 0 && col("doc_id") < 20)
            .withColumn("doc_id", col("doc_id") + lit(100000L)))
          .unionByName(d.filter(col("doc_id") % 2 === 1 && col("doc_id") < 20)
            .withColumn("doc_id", col("doc_id") + lit(200000L)))
        Dedup.exactIncremental(Dedup.exactState(corpus, "text"), delta,
            "text", "doc_id")
          .select("doc_id").orderBy("doc_id")
      },
      Some("""WITH delta AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
          UNION ALL
          SELECT doc_id + 100000, text FROM documents
            WHERE doc_id % 2 = 0 AND doc_id < 20
          UNION ALL
          SELECT doc_id + 200000, text FROM documents
            WHERE doc_id % 2 = 1 AND doc_id < 20),
        fp AS (SELECT doc_id,
            md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
          FROM delta),
        corp AS (SELECT DISTINCT
            md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
          FROM documents WHERE doc_id % 2 = 0)
        SELECT MIN(doc_id) AS doc_id FROM fp
        WHERE f NOT IN (SELECT f FROM corp)
        GROUP BY f ORDER BY 1""")),

    // incremental SIMHASH dedup (the hamming analogue of q101/q102):
    // even docs are the persisted fingerprint state; the batch is the
    // odd docs plus exact clones of state docs (+100000) and of batch
    // docs (+200000). maxBucket uncapped → the pigeonhole banding is
    // EXACT, so the oracle replays the full drop rule: a batch doc
    // survives iff no state fingerprint and no earlier-batch
    // fingerprint sits within hamming 2 of its md5-60-bit simhash
    QueryDef("q104_dedup_simhash_incremental",
      (s, dir) => {
        val d = docs(s, dir)
        val corpus = d.filter(col("doc_id") % 2 === 0)
        val delta = d.filter(col("doc_id") % 2 === 1)
          .unionByName(d.filter(col("doc_id") % 2 === 0 && col("doc_id") < 20)
            .withColumn("doc_id", col("doc_id") + lit(100000L)))
          .unionByName(d.filter(col("doc_id") % 2 === 1 && col("doc_id") < 20)
            .withColumn("doc_id", col("doc_id") + lit(200000L)))
        Dedup.simHashIncremental(
            Dedup.simHashState(corpus, "text", "doc_id",
              fingerprint = Dedup.simHash60Md5),
            delta, "text", "doc_id", maxHamming = 2,
            maxBucket = Int.MaxValue, fingerprint = Dedup.simHash60Md5)
          .select("doc_id").orderBy("doc_id")
      },
      Some("""WITH delta AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
          UNION ALL
          SELECT doc_id + 100000, text FROM documents
            WHERE doc_id % 2 = 0 AND doc_id < 20
          UNION ALL
          SELECT doc_id + 200000, text FROM documents
            WHERE doc_id % 2 = 1 AND doc_id < 20),
        src AS (
          SELECT doc_id, text, 0 AS is_delta FROM documents
            WHERE doc_id % 2 = 0
          UNION ALL SELECT doc_id, text, 1 FROM delta),
        tk AS (SELECT doc_id, is_delta,
            list_filter(string_split(text, ' '), x -> x <> '') AS ts
          FROM src),
        ex AS (SELECT doc_id, is_delta, UNNEST(ts) AS t FROM tk),
        hs AS (SELECT doc_id, is_delta,
            CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h
          FROM ex),
        votes AS (SELECT doc_id, is_delta, b,
            SUM(CASE WHEN (h >> CAST(b AS INTEGER)) & 1 = 1
              THEN 1 ELSE -1 END) AS v
          FROM hs, range(0, 60) r(b) GROUP BY 1, 2, 3),
        fp0 AS (SELECT doc_id, is_delta, CAST(SUM(CASE WHEN v > 0
              THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER))
              ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS fp
          FROM votes GROUP BY 1, 2),
        fp AS (SELECT tk.doc_id, tk.is_delta, COALESCE(fp0.fp, 0) AS fp
          FROM tk LEFT JOIN fp0
            ON tk.doc_id = fp0.doc_id AND tk.is_delta = fp0.is_delta),
        cfp AS (SELECT fp FROM fp WHERE is_delta = 0),
        dfp AS (SELECT doc_id, fp FROM fp WHERE is_delta = 1)
        SELECT d.doc_id FROM dfp d
        WHERE NOT EXISTS (SELECT 1 FROM cfp c
            WHERE bit_count(xor(c.fp, d.fp)) <= 2)
          AND NOT EXISTS (SELECT 1 FROM dfp e
            WHERE e.doc_id < d.doc_id AND bit_count(xor(e.fp, d.fp)) <= 2)
        ORDER BY 1""")),

    // INCREMENTAL inverted-index maintenance, oracle-checked end to
    // end: half the corpus is indexed, the other half arrives as an
    // append and updateIndexVectorized tokenizes ONLY the delta,
    // appending its postings to the persisted shards. The complex
    // CONTAINS then runs THROUGH the updated index (textSearch requires
    // a fresh index) — odd doc_ids can only match via the
    // incrementally-appended postings, which the token-containment
    // oracle verifies row for row.
    QueryDef("q108_text_index_incremental",
      (s, dir) => {
        val d = docs(s, dir).select("doc_id", "text")
        val root = graft.QueryCleanup.tempRoot("q108")
        val ds = graft.format.GraftDataset.create(s, root, d.schema)
        ds.append(d.filter(col("doc_id") % 2 === 0))
        ds.commit("even half")
        ds.createIndexVectorized("text", numShards = 16)
        ds.append(d.filter(col("doc_id") % 2 === 1))
        ds.commit("odd half")
        ds.updateIndexVectorized("text") // append-only → posting delta
        ds.textSearch("text", "vector join||stream batch")
          .select("doc_id").orderBy("doc_id")
      },
      Some(s"""SELECT doc_id FROM documents
        WHERE (list_contains($duckToks, 'vector') AND list_contains($duckToks, 'join'))
           OR (list_contains($duckToks, 'stream') AND list_contains($duckToks, 'batch'))
        ORDER BY doc_id""")),

    // SimHash banded near-dup. EXACT given the band construction: two
    // fingerprints within hamming r agree on one of r+1 bands
    // (pigeonhole), so with the md5-portable 60-bit fingerprint and an
    // unconstrained bucket cap the pair set equals the brute-force
    // all-pairs answer — full DuckDB hash-match, not rows-only. 20-bit
    // bands keep random band collisions ~nil at any corpus size (10-bit
    // bands from a 32-bit fp flooded candidates past 10⁶ docs); the
    // default maxBucket=64 skew guard stays for the 100 TB API path.
    QueryDef("q51_simhash_near_dup",
      (s, dir) => Dedup.simHashNearDup(docs(s, dir), "text", "doc_id",
          maxHamming = 2, maxBucket = Int.MaxValue,
          fingerprint = Dedup.simHash60Md5)
        .orderBy("doc_id_a", "doc_id_b"),
      Some(duckSimHash60 +
        """ SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
          CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
        ORDER BY 1, 2""")),

    // benchmark decontamination: corpus docs sharing >= K distinct
    // bigrams with a held-out set (docs 0-19 stand in as the benchmark)
    locally {
      val decontN = 2 // shingle width, shared by the Spark side and the oracle
      QueryDef("q84_decontaminate",
      (s, dir) => Dedup.decontaminate(docs(s, dir), "text", "doc_id",
          docs(s, dir).filter(col("doc_id") < 20), "text",
          shingleN = decontN, minOverlap = 10)
        .orderBy("doc_id"),
      Some(s"""WITH sh AS (
          SELECT doc_id, list_distinct(${duckNgrams("toks", decontN)}) AS s
          FROM (SELECT doc_id, $duckToks AS toks FROM documents)
          WHERE len(toks) >= $decontN),
        cs AS (SELECT doc_id, UNNEST(s) AS t FROM sh),
        bs AS (SELECT DISTINCT UNNEST(s) AS t FROM sh WHERE doc_id < 20)
        SELECT doc_id, COUNT(*) AS overlap_count
        FROM cs JOIN bs USING (t)
        GROUP BY doc_id HAVING COUNT(*) >= 10 ORDER BY doc_id"""))
    },

    // BM25 ranked retrieval through the persisted index (+stats sidecar);
    // the oracle recomputes the identical formula in SQL — constants are
    // interpolated from the same Scala doubles so both engines parse the
    // same values; scores quantized to 1e-3 for the hash compare
    QueryDef("q83_text_bm25", {
      val (k1, b) = (1.2, 0.75)
      (s: SparkSession, dir: String) => {
        val path = docsIndexPath(s, dir)
        val idx = InvertedIndex.load(s, path)
        val stats = InvertedIndex.loadStats(s, path).get
        InvertedIndex.bm25Search(docs(s, dir), "text", "doc_id", idx,
            "vector merge stream", stats, k1 = k1, b = b,
            numShards = Some(16))
          .withColumn("bm25_x1e3", round(col("bm25") * 1000).cast("long"))
          .select("doc_id", "bm25_x1e3")
          .orderBy("doc_id")
      }
    }, {
      val (k1, b) = (1.2, 0.75)
      def tf(w: String) =
        s"CAST(len(list_filter(t, x -> x = '$w')) AS DOUBLE)"
      def dfq(w: String) =
        s"(SELECT COUNT(*) FROM toks WHERE list_contains(t, '$w'))"
      def term(w: String, dfAlias: String) =
        s"""ln(1 + (n - $dfAlias + 0.5) / ($dfAlias + 0.5)) * ${tf(w)} *
           ${k1 + 1.0} / (${tf(w)} + $k1 *
           (${1.0 - b} + ($b * CAST(dl AS DOUBLE)) / avgdl))"""
      Some(s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
        st AS (SELECT COUNT(*) AS n,
          CAST(SUM(len(list_distinct(t))) AS DOUBLE) / COUNT(*) AS avgdl
          FROM toks),
        dfs AS (SELECT ${dfq("vector")} AS df1, ${dfq("merge")} AS df2,
          ${dfq("stream")} AS df3),
        cand AS (SELECT doc_id, t, len(list_distinct(t)) AS dl FROM toks
          WHERE list_contains(t, 'vector') OR list_contains(t, 'merge')
            OR list_contains(t, 'stream'))
        SELECT doc_id, CAST(ROUND(1000.0 * (${term("vector", "df1")} +
          ${term("merge", "df2")} + ${term("stream", "df3")})) AS BIGINT)
          AS bm25_x1e3
        FROM cand, st, dfs ORDER BY doc_id""")
    }),

    // per-source quota cap (training-data curation: ≤N docs per domain)
    QueryDef("q81_quota_per_source",
      (s, dir) => Sampling.quotaPerGroup(docs(s, dir), "source", "doc_id",
          "doc_id", 50)
        .select("doc_id", "source").orderBy("doc_id"),
      Some("""SELECT doc_id, source FROM (
          SELECT doc_id, source,
            ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
          FROM documents)
        WHERE rn <= 50 ORDER BY doc_id""")),

    // engine-independent deterministic sampling (md5-coin, salted)
    QueryDef("q82_deterministic_sample",
      (s, dir) => Sampling.deterministicSample(docs(s, dir), "doc_id",
          fraction = 0.2, salt = "s1")
        .select("doc_id").orderBy("doc_id"),
      Some(s"""SELECT doc_id FROM documents
        WHERE CAST(concat('0x', substr(md5(concat(
            CAST(doc_id AS VARCHAR), 's1')), 1, 15)) AS BIGINT)
          < ${(0.2 * (1L << 60).toDouble).toLong}
        ORDER BY doc_id""")),

    // sequence packing: concatenate-and-chop addresses (stream, block,
    // offset) for fixed-budget context blocks — deterministic md5 order,
    // so the trainer can recompute the same layout from the same table
    QueryDef("q129_pack_sequences",
      (s, dir) => Sampling.packByBudget(docs(s, dir), "doc_id",
          T.tokenCount(col("text")), budget = 512L, streams = 8,
          salt = "pk")
        .select("doc_id", "stream", "block", "block_offset")
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id,
          CAST(len($duckToks) AS BIGINT) AS ntok,
          CAST(concat('0x', substr(md5(concat(
            CAST(doc_id AS VARCHAR), 'pk')), 1, 15)) AS BIGINT) AS coin
          FROM documents),
        st AS (SELECT doc_id, ntok, coin, coin % 8 AS stream FROM t),
        c AS (SELECT doc_id, stream,
          CAST(SUM(ntok) OVER (PARTITION BY stream ORDER BY coin, doc_id
            ROWS UNBOUNDED PRECEDING) - ntok AS BIGINT) AS strt
          FROM st)
        SELECT doc_id, stream,
          CAST(FLOOR(strt / 512.0) AS BIGINT) AS block,
          strt % 512 AS block_offset
        FROM c ORDER BY doc_id""")),

    // mixture sampling: per-source keep rates from target weights,
    // md5-coin selection — the pretraining data-mixture step. Weights
    // derive from the source suffix ((n%4+1)/8) on BOTH sides so the
    // oracle replays the exact double arithmetic.
    QueryDef("q130_mixture_by_source",
      (s, dir) => Sampling.mixBySource(docs(s, dir), "doc_id", "source",
          weights = (0 until 20).map(i =>
            s"src$i" -> ((i % 4 + 1) / 8.0)).toMap,
          salt = "mx")
        .select("doc_id", "source").orderBy("doc_id"),
      Some("""WITH cnt AS (
          SELECT source, COUNT(*) AS c FROM documents GROUP BY 1),
        r AS (SELECT source,
            ((CAST(substr(source, 4) AS BIGINT) % 4 + 1) / 8.0)
              / CAST(c AS DOUBLE) AS ratio FROM cnt),
        mx AS (SELECT MAX(ratio) AS m FROM r),
        cut AS (SELECT source,
            CAST(FLOOR(ratio / m * 1152921504606846976.0) AS BIGINT)
              AS cutoff FROM r, mx)
        SELECT d.doc_id, d.source FROM documents d
        JOIN cut USING (source)
        WHERE CAST(concat('0x', substr(md5(concat(
            CAST(doc_id AS VARCHAR), 'mx')), 1, 15)) AS BIGINT) < cutoff
        ORDER BY doc_id""")),

    // Gopher-style repetition signals: top/duplicate n-gram occurrence
    // fractions in ONE sorted run-length pass per row. explode(array(..))
    // is a deliberate binding barrier: Generate evaluates the struct once
    // per row, so the two getFields don't re-tokenize (no HOF CSE).
    locally {
      val repN = 2 // n-gram width, shared by the Spark side and the oracle
      QueryDef("q85_repetition_signals",
      (s, dir) => docs(s, dir)
        // CPU-per-row (sort + run-length over every doc's shingles):
        // spread rows before compute — the testdata parquet is one file
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          explode(array(T.ngramRepetition(col("text"), repN))).as("rep"))
        .select(col("doc_id"),
          col("rep.top_fraction").as("top_frac"),
          col("rep.dup_fraction").as("dup_frac"))
        .orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, $duckToks AS ts FROM documents),
        ex AS (SELECT doc_id, UNNEST(${duckNgrams("ts", repN)}) AS g
          FROM toks WHERE len(ts) >= $repN),
        cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM ex GROUP BY 1, 2),
        agg AS (SELECT doc_id, MAX(c) AS best,
            SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup, SUM(c) AS total
          FROM cnt GROUP BY 1)
        SELECT d.doc_id,
          CAST(a.best AS DOUBLE) / CAST(a.total AS DOUBLE) AS top_frac,
          CAST(a.dup AS DOUBLE) / CAST(a.total AS DOUBLE) AS dup_frac
        FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        ORDER BY d.doc_id"""))
    },

    // PII scrub with audit counts: specific patterns (email, ssn, phone)
    // redact before the generic digitRun, counts measured on the original
    // text. PII strings are CONSTRUCTED per row (doc_id-dependent email +
    // fixed phone/ssn/badge) so the oracle applies the identical
    // engine-portable regex chain to the identical text.
    QueryDef("q86_pii_scrub",
      (s, dir) => {
        val raw = concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit(piiSuffix))
        val (scrubbed, counts) = T.piiScrub(raw, T.piiPatterns)
        docs(s, dir).select(col("doc_id"), scrubbed.as("scrubbed"),
          counts.getItem("email").cast("long").as("n_email"),
          counts.getItem("ssn").cast("long").as("n_ssn"),
          counts.getItem("phone").cast("long").as("n_phone"),
          counts.getItem("digitRun").cast("long").as("n_digit"))
          .orderBy("doc_id")
      },
      Some {
        // sq-escape every interpolated pattern AND the suffix: a future
        // pattern containing a single quote must break the SQL loudly at
        // the escape, not silently skew the oracle
        val pe = sq(T.piiPatterns("email")); val ps = sq(T.piiPatterns("ssn"))
        val pp = sq(T.piiPatterns("phone")); val pd = sq(T.piiPatterns("digitRun"))
        s"""WITH raw AS (SELECT doc_id,
            text || ' contact user' || CAST(doc_id AS VARCHAR) ||
            '${sq(piiSuffix)}' AS t
          FROM documents)
        SELECT doc_id,
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
            '$pe', '<PII>', 'g'), '$ps', '<PII>', 'g'),
            '$pp', '<PII>', 'g'), '$pd', '<PII>', 'g') AS scrubbed,
          CAST(len(regexp_extract_all(t, '$pe')) AS BIGINT) AS n_email,
          CAST(len(regexp_extract_all(t, '$ps')) AS BIGINT) AS n_ssn,
          CAST(len(regexp_extract_all(t, '$pp')) AS BIGINT) AS n_phone,
          CAST(len(regexp_extract_all(t, '$pd')) AS BIGINT) AS n_digit
        FROM raw ORDER BY doc_id"""
      }),

    // exact n-gram Jaccard near-dup pairs (the oracle-checkable near-dup)
    locally {
      val jacN = 2 // shingle width, shared by the Spark side and the oracle
      QueryDef("q50_ngram_jaccard_pairs",
      (s, dir) => Dedup.ngramJaccardPairs(docs(s, dir), "text", "doc_id",
          shingleN = jacN, threshold = 0.30, blockCol = Some("source"))
        .withColumn("jaccard_pct", round(col("jaccard") * 1000).cast("long"))
        .select("doc_id_a", "doc_id_b", "jaccard_pct")
        .orderBy("doc_id_a", "doc_id_b"),
      Some(s"""WITH sh AS (
          SELECT doc_id, source,
            list_distinct(${duckNgrams("toks", jacN)}) AS shingles
          FROM (SELECT doc_id, source, $duckToks AS toks FROM documents)
          WHERE len(toks) >= $jacN),
        ex AS (SELECT doc_id, source, UNNEST(shingles) AS s FROM sh),
        inter AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS i
          FROM ex a JOIN ex b ON a.s = b.s AND a.source = b.source AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        cnt AS (SELECT doc_id, len(shingles) AS c FROM sh)
        SELECT doc_id_a, doc_id_b,
          CAST(ROUND(1000.0 * i / (ca.c + cb.c - i)) AS BIGINT) AS jaccard_pct
        FROM inter JOIN cnt ca ON ca.doc_id = doc_id_a
        JOIN cnt cb ON cb.doc_id = doc_id_b
        WHERE CAST(i AS DOUBLE) / (ca.c + cb.c - i) >= 0.30
        ORDER BY doc_id_a, doc_id_b"""))
    },

    // the registered graft_* SQL surface: the SAME signals as q45/q48,
    // but routed through spark.sql over the injected FunctionRegistry
    // entries (SQL-only / Python users' path). Oracle identical math —
    // this pins that the SQL bindings produce the Scala API's exact
    // expression trees, through the driver's full gate.
    QueryDef("q95_sql_function_route",
      (s, dir) => {
        org.apache.spark.sql.graftnative.GraftExtensions.install(s)
        docs(s, dir).createOrReplaceTempView("documents_sqlfn")
        s.sql("""SELECT doc_id,
            graft_token_count(text) AS n_tokens,
            graft_fingerprint_md5(text) AS fp,
            CAST(graft_redaction_count(text, '[0-9]+') AS BIGINT) AS digit_runs
          FROM documents_sqlfn ORDER BY doc_id""")
      },
      Some(s"""SELECT doc_id, len($duckToks) AS n_tokens,
        md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
        CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS digit_runs
        FROM documents ORDER BY doc_id""")),

    // vocabulary statistics FROM THE INDEX (the reference aggregate()
    // fast path, aggregate.py:33-52: grouped count answered from
    // posting sizes, never the rows): per-term distinct-document counts
    // read from the posting table — a vocabulary-sized scan, not a
    // corpus tokenization pass. The oracle recomputes the counts from
    // the raw text under the same whitespace-token contract.
    QueryDef("q118_text_vocab_counts",
      (s, dir) => {
        val d = docs(s, dir).select("doc_id", "text")
        val root = graft.QueryCleanup.tempRoot("q118")
        val ds = graft.format.GraftDataset.create(s, root, d.schema)
        ds.append(d)
        ds.commit("docs")
        ds.createIndexVectorized("text", numShards = 8)
        ds.termCounts("text")
          .filter(col("n_docs") >= 10) // the head of the vocabulary
          .orderBy("term")
      },
      Some(s"""WITH tok AS (
          SELECT doc_id, UNNEST(list_distinct($duckToks)) AS term
          FROM documents)
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM tok GROUP BY term HAVING COUNT(DISTINCT doc_id) >= 10
        ORDER BY term""")),

    // REAL video-frame decode (r15): MJPEG-in-AVI payloads built
    // in-flight — solid-gray frames at 16k+8 gray levels, so the JPEG
    // round-trip error (DC quantization, bounded well under ±8 for a
    // uniform frame) never crosses a 16-wide bin and
    // floor(mean_luma/16) is EXACT for the oracle. Every 7th row is a
    // non-MJPEG codec and must read as null features, pinning the
    // degrade-to-None boundary through the aggregate's count(col).
    QueryDef("q127_multimodal_video_frames",
      (s, dir) => {
        def le32(v: Int): Array[Byte] =
          Array(v, v >> 8, v >> 16, v >> 24).map(_.toByte)
        def chunk(id: String, payload: Array[Byte]): Array[Byte] =
          id.getBytes("US-ASCII") ++ le32(payload.length) ++ payload ++
            (if (payload.length % 2 == 1) Array(0.toByte)
             else Array.empty[Byte])
        def list(tpe: String, payload: Array[Byte]): Array[Byte] =
          chunk("LIST", tpe.getBytes("US-ASCII") ++ payload)
        def jpegGray(w: Int, h: Int, v: Int): Array[Byte] = {
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val g = img.createGraphics()
          g.setColor(new java.awt.Color(v, v, v)); g.fillRect(0, 0, w, h)
          g.dispose()
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "jpg", out)
          out.toByteArray
        }
        def avi(handler: String, frames: Seq[Array[Byte]]): Array[Byte] = {
          val avih = new Array[Byte](56)
          le32(40000).copyToArray(avih, 0)
          le32(frames.size).copyToArray(avih, 16)
          le32(1).copyToArray(avih, 24)
          val strh = new Array[Byte](56)
          "vids".getBytes("US-ASCII").copyToArray(strh, 0)
          handler.getBytes("US-ASCII").copyToArray(strh, 4)
          val strf = new Array[Byte](40)
          le32(40).copyToArray(strf, 0)
          handler.getBytes("US-ASCII").copyToArray(strf, 16)
          val body = list("hdrl", chunk("avih", avih) ++
            list("strl", chunk("strh", strh) ++ chunk("strf", strf))) ++
            list("movi", frames.map(chunk("00dc", _)).flatten.toArray)
          "RIFF".getBytes("US-ASCII") ++ le32(body.length + 4) ++
            "AVI ".getBytes("US-ASCII") ++ body
        }
        import s.implicits._
        val rows = (0 until 48).map { i =>
          val n = i % 4 + 1
          val w = 16 * (i % 3 + 1); val h = 8 * (i % 2 + 1)
          val gray = 16 * ((i * 7) % 12) + 8
          val handler = if (i % 7 == 3) "H264" else "MJPG"
          (i.toLong, avi(handler,
            Seq.fill(n)(jpegGray(w, h, gray))))
        }
        val df = rows.toDF("id", "video_bytes")
        graft.operators.Multimodal.decodeVideoFrames(df, "video")
          .groupBy((col("id") % 4).as("grp"))
          .agg(count(lit(1)).as("n"),
            count(col("frames_decoded")).as("decoded"),
            sum(col("frames_decoded")).as("frames"),
            sum(col("frame_width") * col("frame_height")).as("px"),
            sum(floor(col("mean_frame_luma") / 16).cast("long")).as("bins"))
          .orderBy("grp")
      },
      Some("""WITH m AS (
          SELECT i,
            CASE WHEN i%7=3 THEN NULL ELSE i%4+1 END AS frames,
            CASE WHEN i%7=3 THEN NULL
                 ELSE (16*(i%3+1)) * (8*(i%2+1)) END AS px,
            CASE WHEN i%7=3 THEN NULL ELSE (i*7)%12 END AS bin
          FROM generate_series(0, 47) t(i))
        SELECT CAST(i%4 AS BIGINT) AS grp, COUNT(*) AS n,
          COUNT(frames) AS decoded,
          CAST(SUM(frames) AS BIGINT) AS frames,
          CAST(SUM(px) AS BIGINT) AS px,
          CAST(SUM(bin) AS BIGINT) AS bins
        FROM m GROUP BY 1 ORDER BY 1"""))
  )
}
