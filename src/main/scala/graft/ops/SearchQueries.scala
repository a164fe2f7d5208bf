package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.NfcNormalize
import graft.text.{Bm25, Bpe, PostingStore, TextFunctions}

/** Retrieval and tokenization gates over `documents`: Unicode NFC
  * canonicalization (tx18), BM25 ranked retrieval (q52), and BPE tokenizer
  * training (tx19) / encoding (tx20).
  *
  * Scale notes per gate:
  *  - tx18 is a pure scan-side projection (native codegen expression with an
  *    ASCII fast path) — zero shuffles.
  *  - q52 shuffles only the (doc, query-term) hits — the term filter is
  *    pushed into the scan-side explode, so the exchange carries O(hits)
  *    rows, never the token stream; df and corpus stats are one-row /
  *    O(terms) broadcasts; top-k pins TakeOrderedAndProject.
  *  - tx19 collapses the corpus to the distinct-word table in its first agg
  *    and iterates on O(vocab) rows only (see [[graft.text.Bpe]]).
  *  - tx20 is a scan-side fold under one broadcast merge list + a per-doc
  *    hash agg.
  */
object SearchQueries {

  /** BPE merge rounds — small enough that the generated DuckDB CTE chain
    * stays readable, large enough that later merges build on earlier ones
    * (multi-char symbols appear from round ~3 on the corpus vocabulary).
    */
  private val BpeRounds = 8

  /** BM25 parameters (the standard Robertson defaults) and the fixed query
    * term set — high-df corpus terms so every parameter of the formula
    * (idf spread, length normalization) is exercised.
    */
  private val K1 = Bm25.K1
  private val B = Bm25.B
  private val Terms = Seq("vector", "hash", "join", "filter", "merge")
  private val TopK = 25
  private val G = 1048576L // 2^-20 grid for the one libm term (ln)

  /** Tokenize→pack budget (in SUBWORD pieces) and prefix-sum bucket width. */
  private val PackBudget = 512L
  private val PackBucket = 1024L

  /** DuckDB token-array expression — mirror of [[TextFunctions.tokens]]. */
  private val T = raw"regexp_split_to_array(trim(lower(text)), '\s+')"
  private val NT = raw"len($T)"

  /** Materialize the trigram posting table once per sfDir (the standing
    * index q107 queries; at lake scale this would be a bucketed
    * manifest-committed table — here one parquet with ng pushdown).
    */
  private def trigramIndexDir(s: SparkSession, dir: String): String = {
    val root = graft.streaming.FixtureLock.root(dir, "trigram_index_v1")
    val out = root.resolve("postings").toString
    graft.streaming.FixtureLock.once(root) {
        graft.text.TrigramIndex
          .build(Tables(s, dir, "documents"), "doc_id", "text")
          .write.mode("overwrite").parquet(out)
    }
    out
  }

  /** Decomposed vs pre-composed spellings of the same suffix — NFC maps the
    * former onto the latter, so even-doc rows change under normalization and
    * odd-doc rows are already-NFC fixpoints (both paths of the kernel).
    */
  private val Decomposed = " café öl år éclair "
  private val Composed = " café öl år éclair "

  /** Materialize the TRAINED BPE merge table once per sfDir (the
    * trigram-index fixture pattern above). The ENCODE gates (tx20/tx33/
    * cur12) consume the same trained state; before this cache each
    * independently re-ran the iterative training — ~4× the training
    * cost per bench pass and the round-11 drift flag on cur12. Training
    * is a pure function of the corpus, so the cached table equals what
    * tx19 (the training gate, which runs Bpe.train directly — r13)
    * computes. At lake scale this is the tokenizer artifact a pipeline
    * trains once and ships to every encode job.
    */
  private def bpeMergesDir(s: SparkSession, dir: String): String = {
    val root = graft.streaming.FixtureLock.root(dir, "bpe_merges_v1")
    val out = root.resolve("merges").toString
    graft.streaming.FixtureLock.once(root) {
        Bpe.train(Tables(s, dir, "documents"), BpeRounds)._1
          .coalesce(1).write.mode("overwrite").parquet(out)
    }
    out
  }

  /** The trained merge table (round | sym_a | sym_b | pair_cnt) from the
    * per-SF fixture — O(rounds) rows, one tiny parquet read.
    */
  private def trainedMerges(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(bpeMergesDir(s, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Unicode NFC canonicalization — the normalize-before-anything pass of
    // a crawl pipeline, as a native codegen expression (Spark has no
    // built-in; DuckDB's nfc_normalize is the oracle twin). The corpus is
    // ASCII, so a deterministic mixed-form suffix is appended on both
    // engines: even doc_ids get base+combining-mark sequences (change under
    // NFC), odd doc_ids get the pre-composed equivalents (NFC fixpoint).
    "tx18_nfc_normalize" -> ((s, dir) => {
      val aug = concat(substring(col("text"), 1, 80),
        when(pmod(col("doc_id"), lit(2)) === 0, lit(Decomposed))
          .otherwise(lit(Composed)),
        pmod(col("doc_id"), lit(3)).cast("string"))
      Tables(s, dir, "documents")
        .select(col("doc_id"), aug.as("aug"))
        .select(col("doc_id"),
          length(col("aug")).cast("bigint").as("n_chars_raw"),
          length(NfcNormalize(col("aug"))).cast("bigint").as("n_chars_nfc"),
          (col("aug") =!= NfcNormalize(col("aug"))).cast("int").as("changed"),
          md5(NfcNormalize(col("aug")).cast("binary")).as("nfc_md5"))
        .orderBy(col("doc_id"))
    }),

    // BM25 ranked retrieval: score = Σ_t idf(t) · tf·(k1+1) /
    // (tf + k1·(1−b+b·dl/avgdl)), scored by the shared [[Bm25]] kernel
    // (the only libm call and each per-term addend are 2^-20
    // grid-quantized, so the ≤|Terms| addend sum is exact on both
    // engines).
    // TRIGRAM-INDEX substring search: three `%pattern%` queries answered
    // through the standing posting table (built once per sfDir) —
    // posting lookups, doc-keyed intersection, contains-verify. The
    // oracle is the naive LIKE scan: the index may only over-approximate
    // candidates, never miss, so the verified result is exactly equal.
    "q107_trigram_search" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val index = s.read.parquet(trigramIndexDir(s, dir))
      Seq("merge batch", "big vector", "fast table")
        .map { p =>
          graft.text.TrigramIndex.search(index, docs, "doc_id", "text", p)
            .withColumn("pattern", lit(p))
        }
        .reduce(_ unionByName _)
        .select(col("pattern"), col("doc_id"))
        .orderBy(col("pattern"), col("doc_id"))
    }),

    "q52_bm25" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("dl"),
        TextFunctions.tokens(col("text")).as("toks"))
      val stats = docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sd"))
        .select(col("n_docs"),
          (col("sd").cast("double") / col("n_docs")).as("avgdl"))
      val tf = docs
        .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
        .filter(col("tok").isin(Terms: _*))
        .groupBy(col("doc_id"), col("dl"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val dfq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      Bm25.topK(tf, dfq, stats, TopK)
    }),

    // The same BM25 query against the STANDING inverted index: a
    // two-segment manifest-committed posting store (bootstrap + append)
    // whose probe opens only the query terms' bucket directories. Batch
    // disjointness + the shared scoring kernel make the result equal to
    // the ad-hoc recompute — so this gate shares q52's oracle, proving
    // store ≡ recompute end-to-end.
    "tx21_bm25_index" -> ((s, dir) => {
      val root = PostingStore.materializedDocsDir(s, dir)
      PostingStore.topK(s, root, Terms, TopK)
    }),

    // The same probe against an index maintained by the REAL streaming
    // writer (two file-source micro-batches through appendStream's
    // bootstrap-then-append foreachBatch with exactly-once txn ids) —
    // streaming ingest ≡ batch build ≡ ad-hoc recompute, all on one
    // oracle.
    "ev6_stream_bm25_index" -> ((s, dir) => {
      val root = PostingStore.materializedStreamDocsDir(s, dir)
      PostingStore.topK(s, root, Terms, TopK)
    }),

    // PHRASE search — the positional match bag-of-words BM25 can't
    // express: count adjacent ("table","scan") token pairs per document.
    // A per-document function, so it is SCAN-SIDE by design (zip the
    // token array with its own shift, filter, size): one TakeOrdered
    // top-k over per-row counts — zero shuffles of anything corpus-sized,
    // no posting join. The oracle recomputes the same shifted-zip match.
    "tx22_phrase_search" -> ((s, dir) => {
      val t = graft.text.TextFunctions.tokens(col("text"))
      val pairHits = size(filter(
        zip_with(slice(t, lit(1), size(t) - 1),
          slice(t, lit(2), size(t) - 1),
          (a, b) => a === "table" && b === "scan"),
        x => x))
      Tables(s, dir, "documents")
        .select(col("doc_id"), pairHits.cast("long").as("n_matches"))
        .filter(col("n_matches") > 0)
        .orderBy(col("n_matches").desc, col("doc_id")).limit(TopK)
    }),

    // Tokenize→pack: the end-to-end budget-accurate packing pass — per-doc
    // subword piece counts from the TRAINED tokenizer (not whitespace
    // counts) feed the distributed prefix-sum packer, so context windows
    // are sized in the units the model actually consumes.
    "cur12_tokenize_pack" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pieces = Bpe.encode(docs, trainedMerges(s, dir))
        .select(col("doc_id"), col("n_pieces"))
      graft.pack.Packing
        .packByBudget(pieces, "doc_id", "n_pieces", PackBudget, PackBucket)
        .select(col("doc_id"), col("n_pieces"), col("start_offset"),
          col("pack_id"))
        .orderBy(col("doc_id"))
    }),

    // BPE tokenizer training: the learned merge table (round, pair, count).
    // All-integer, tie-broken (count DESC, pair ASC) — bit-exact. The
    // fixture is the training run's output verbatim, so this gate still
    // verifies training against the oracle's re-derivation.
    // tx19 IS the training gate, so its timed path runs the training
    // computation itself (r13, the r12-verdict tx19 task: reading the
    // per-SF fixture here made the gate a read of its own precomputed
    // output). Training is deterministic, so the result equals the
    // fixture the OTHER consumers (tx20/tx33/cur12) still share — they
    // model the ship-the-artifact side of a tokenizer pipeline, while
    // this gate times the train side.
    "tx19_bpe_merges" -> ((s, dir) =>
      Bpe.train(Tables(s, dir, "documents"), BpeRounds)._1
        .orderBy(col("round"))),

    // Encode the corpus under the trained merges: per-doc subword piece
    // counts — the number every token-budget / packing decision consumes.
    "tx20_bpe_encode" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      Bpe.encode(docs, trainedMerges(s, dir)).orderBy(col("doc_id"))
    }),

    // WORDPIECE encode under the SAME learned vocabulary: greedy
    // longest-match segmentation (Wu et al. 2016) — the tokenizer
    // family's other member. BPE re-applies the merge HISTORY in order;
    // WordPiece keeps only the final piece INVENTORY and eats the
    // longest prefix each step — same vocab, different algorithm,
    // different counts (the gate proves both live on one trained state).
    // The piece set is single chars + the R merge products (bounded
    // driver metadata in the WordPieceCount kernel); the corpus pass is
    // one scan-side projection + a per-doc hash agg, same shape as tx20.
    "tx33_wordpiece_encode" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val merges = trainedMerges(s, dir)
        .select(concat(col("sym_a"), col("sym_b")).as("p")).collect()
        .map(_.getString(0))
      val pieces = (('a' to 'z').map(_.toString) :+ "_") ++ merges
      val perDoc = docs
        .select(col("doc_id"),
          explode(graft.text.TextFunctions.tokens(col("text"))).as("w"))
        .filter(col("w").rlike("^[a-z]+$"))
        .select(col("doc_id"),
          graft.functions.WordPieceCount(col("w"), pieces)
            .as("np"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_alpha_tokens"),
          sum(col("np")).as("n_pieces_wp"))
      docs.select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_alpha_tokens"), lit(0L)).as("n_alpha_tokens"),
          coalesce(col("n_pieces_wp"), lit(0L)).as("n_pieces_wp"))
        .orderBy(col("doc_id"))
    })
  )

  private val termList = Terms.map(t => s"'$t'").mkString(", ")

  val oracleSql: Map[String, String] = Map(

    "tx18_nfc_normalize" -> s"""
      WITH aug AS (
        SELECT doc_id, substr(text, 1, 80) ||
          CASE WHEN doc_id % 2 = 0
            THEN ' cafe' || chr(769) || ' o' || chr(776) || 'l a' ||
              chr(778) || 'r ' || chr(233) || 'clair '
            ELSE ' caf' || chr(233) || ' ' || chr(246) || 'l ' ||
              chr(229) || 'r ' || chr(233) || 'clair '
          END || (doc_id % 3)::VARCHAR AS aug
        FROM documents
      )
      SELECT doc_id, length(aug) AS n_chars_raw,
        length(nfc_normalize(aug)) AS n_chars_nfc,
        (aug <> nfc_normalize(aug))::INT AS changed,
        md5(nfc_normalize(aug)) AS nfc_md5
      FROM aug ORDER BY doc_id""",

    "q52_bm25" -> Bm25Oracle,

    // the index is pure acceleration: the answer IS the LIKE scan
    "q107_trigram_search" -> """
      SELECT pattern, doc_id FROM (
        SELECT 'merge batch' AS pattern, doc_id FROM documents
        WHERE text LIKE '%merge batch%'
        UNION ALL
        SELECT 'big vector' AS pattern, doc_id FROM documents
        WHERE text LIKE '%big vector%'
        UNION ALL
        SELECT 'fast table' AS pattern, doc_id FROM documents
        WHERE text LIKE '%fast table%'
      ) ORDER BY pattern, doc_id""",

    // The standing index must equal the ad-hoc recompute — same oracle.
    "tx21_bm25_index" -> Bm25Oracle,

    // ... and so must the stream-maintained index.
    "ev6_stream_bm25_index" -> Bm25Oracle,

    // Shifted-zip adjacent-pair match, mirroring the scan-side count.
    "tx22_phrase_search" -> s"""
      WITH m AS (
        SELECT doc_id,
          CAST(len(list_filter(
            list_zip(($T)[1:len($T) - 1], ($T)[2:len($T)]),
            x -> x[1] = 'table' AND x[2] = 'scan')) AS BIGINT) AS n_matches
        FROM documents
      )
      SELECT doc_id, n_matches FROM m WHERE n_matches > 0
      ORDER BY n_matches DESC, doc_id LIMIT $TopK""",

    "tx19_bpe_merges" -> Bpe.mergesOracle(BpeRounds),

    "tx20_bpe_encode" -> Bpe.encodeOracle(BpeRounds),

    // Same trained state as tx19/tx20 (the shared training CTEs), then
    // greedy longest-prefix segmentation replayed as a recursive CTE —
    // per word, each step consumes the longest piece matching at `pos`
    // (unique: equal-length matches at one position are equal strings).
    "tx33_wordpiece_encode" -> {
      val ctes = Bpe.oracleCtes(BpeRounds).stripPrefix("WITH ")
      val mergePieces = (1 to BpeRounds)
        .map(r => s"SELECT a || b AS piece FROM b$r").mkString(" UNION ALL ")
      raw"""WITH RECURSIVE $ctes, vocabp AS (
        SELECT DISTINCT piece FROM (
          SELECT chr(CAST(96 + i AS INT)) AS piece
          FROM (SELECT unnest(range(1, 27)) AS i)
          UNION ALL SELECT '_'
          UNION ALL $mergePieces)
      ), words AS (
        SELECT DISTINCT w FROM (
          SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
            AS w
          FROM documents)
        WHERE regexp_matches(w, '^[a-z]+$$')
      ), ws AS (
        SELECT w, w || '_' AS s FROM words
      ), rec AS (
        SELECT w, 1 AS pos, 0 AS np FROM ws
        UNION ALL
        SELECT r.w,
          r.pos + (SELECT max(length(v.piece)) FROM vocabp v
                   WHERE substr(x.s, r.pos, length(v.piece)) = v.piece),
          r.np + 1
        FROM rec r JOIN ws x USING (w)
        WHERE r.pos <= length(x.s)
      ), wp AS (
        SELECT r.w, MAX(np) AS n_pieces FROM rec r JOIN ws x USING (w)
        WHERE r.pos = length(x.s) + 1 GROUP BY r.w
      ), occ AS (
        SELECT doc_id, w FROM (
          SELECT doc_id,
            unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
          FROM documents)
        WHERE regexp_matches(w, '^[a-z]+$$')
      ), agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_alpha_tokens,
          CAST(SUM(wp.n_pieces) AS BIGINT) AS n_pieces_wp
        FROM occ JOIN wp USING (w) GROUP BY 1
      )
      SELECT d.doc_id,
        CAST(COALESCE(a.n_alpha_tokens, 0) AS BIGINT) AS n_alpha_tokens,
        CAST(COALESCE(a.n_pieces_wp, 0) AS BIGINT) AS n_pieces_wp
      FROM (SELECT doc_id FROM documents) d LEFT JOIN agg a USING (doc_id)
      ORDER BY d.doc_id"""
    },

    "cur12_tokenize_pack" -> s"""${Bpe.encodeCtes(BpeRounds)}, run AS (
        SELECT doc_id, n_pieces,
          CAST(SUM(n_pieces) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_pieces
            AS BIGINT) AS start_offset
        FROM pieces
      )
      SELECT doc_id, n_pieces, start_offset,
        start_offset // $PackBudget AS pack_id
      FROM run ORDER BY doc_id"""
  )

  private lazy val Bm25Oracle: String = raw"""
      WITH docs AS (
        SELECT doc_id, $NT AS dl, $T AS toks FROM documents
      ), stats AS (
        SELECT COUNT(*) AS n_docs,
          CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM docs
      ), tf AS (
        SELECT doc_id, dl, tok, COUNT(*) AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM docs)
        WHERE tok IN ($termList)
        GROUP BY 1, 2, 3
      ), dfq AS (
        SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1
      ), scored AS (
        SELECT t.doc_id,
          floor((floor(ln(1.0 + (s.n_docs - q.df + 0.5) / (q.df + 0.5))
              * $G) / $G.0)
            * (t.tf * ${K1 + 1}) /
            (t.tf + $K1 * (${1 - B} + $B * t.dl / s.avgdl)) * $G) / $G.0
            AS addend
        FROM tf t JOIN dfq q USING (tok), stats s
      )
      SELECT doc_id, SUM(addend) AS score, COUNT(*) AS n_terms_hit
      FROM scored GROUP BY doc_id
      ORDER BY score DESC, doc_id LIMIT $TopK"""
}
