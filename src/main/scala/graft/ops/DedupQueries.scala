package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Deduplication queries over `documents`: exact fingerprint groups,
  * MinHash+LSH near-dup pairs (verified with exact n-gram Jaccard), and
  * SimHash near-dup pairs. The DuckDB oracles re-derive the identical
  * md5-based hashes, so even the LSH *candidate* sets match exactly.
  */
object DedupQueries {

  private[ops] val ShingleN = 3
  private[ops] val Bands = 4
  private[ops] val RowsPerBand = 3
  private[ops] val JaccardTau = 0.8
  private val ContainTau = 0.9
  private val MaxHamming = 8
  private val PrefixBits = 20

  /** Shared DuckDB CTEs: tokens → distinct 3-shingles → minhash signature. */
  private val shinglesCte: String = raw"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id, list_distinct(list_transform(
        generate_series(1, greatest(len(t) - ${ShingleN - 1}, 1)),
        i -> array_to_string(list_slice(t, i, i + ${ShingleN - 1}), ' '))) AS s
      FROM toks
    )"""

  /** Materialize the streamed dedup store once per sfDir (see
    * `dd8_stream_dedup_store`): two mtime-ordered parquet chunk files →
    * file-source stream (`maxFilesPerTrigger=1`) → the real
    * [[graft.streaming.IncrementalDedupStream.writer]]. Deterministic:
    * the chunk split is by doc_id, batch order is pinned by mtime, and
    * every dedup decision is hash-based.
    */

  /** Materialize-once fixture for the INCREMENTAL cluster store (gate
    * `dd10_stream_cluster_store`): the dd5 LSH pair set written as two
    * mtime-ordered parquet chunk files (split by id_a parity) → file-source
    * stream (`maxFilesPerTrigger=1`) → the real
    * [[graft.streaming.ClusterStore.mergeStream]] writer. Star-forest
    * merges are lossless, so the standing labels equal the one-shot CC the
    * dd5 oracle recomputes recursively.
    */
  private def streamedClusterStoreDir(s: SparkSession, dir: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val root = graft.streaming.FixtureLock.root(dir, "cluster_store_v1")
    val store = root.resolve("store").toString
    graft.streaming.FixtureLock.once(root) {
        val docs = Tables(s, dir, "documents")
        val pairs = Dedup.nearDuplicatePairs(docs, "text", "doc_id",
            JaccardTau, ShingleN, Bands, RowsPerBand)
          .select(col("id_a").cast("long").as("id_a"),
            col("id_b").cast("long").as("id_b"))
        val chunkDir = root.resolve("chunks")
        Files.createDirectories(chunkDir)
        Seq(col("id_a") % 2 === 0, col("id_a") % 2 === 1)
          .zipWithIndex.foreach { case (pred, i) =>
            val tmp = root.resolve(s"tmp$i").toString
            pairs.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
            val part = Files.list(Paths.get(tmp)).iterator()
            var src: java.nio.file.Path = null
            while (part.hasNext) {
              val p = part.next()
              if (p.getFileName.toString.startsWith("part-")) src = p
            }
            val tgt = chunkDir.resolve(f"chunk$i%04d.parquet")
            Files.copy(src, tgt, StandardCopyOption.REPLACE_EXISTING)
            // pin batch order: strictly increasing mtimes
            tgt.toFile.setLastModified(1700000000000L + i * 600000L)
          }
        graft.streaming.ClusterStore.create(s, store)
        val src = s.readStream.schema(pairs.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(chunkDir.toString)
        val q = graft.streaming.ClusterStore.mergeStream(s, src, store,
          root.resolve("ckpt").toString)
        q.processAllAvailable()
        q.stop()
    }
    store
  }

  private def streamedDedupStoreDir(s: SparkSession, dir: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val root = graft.streaming.FixtureLock.root(dir, "dedup_stream_store")
    val store = root.resolve("store").toString
    graft.streaming.FixtureLock.once(root) {
        val docs = Tables(s, dir, "documents")
        val chunkDir = root.resolve("chunks")
        Files.createDirectories(chunkDir)
        Seq(col("doc_id") % 10 <= 4, col("doc_id") % 10 >= 5)
          .zipWithIndex.foreach { case (pred, i) =>
            val tmp = root.resolve(s"tmp$i").toString
            docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
            val part = Files.list(Paths.get(tmp)).iterator()
            var src: java.nio.file.Path = null
            while (part.hasNext) {
              val p = part.next()
              if (p.getFileName.toString.startsWith("part-")) src = p
            }
            val tgt = chunkDir.resolve(f"chunk$i%04d.parquet")
            Files.copy(src, tgt, StandardCopyOption.REPLACE_EXISTING)
            // pin batch order: strictly increasing mtimes
            tgt.toFile.setLastModified(1700000000000L + i * 600000L)
          }
        val src = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(chunkDir.toString)
        val q = graft.streaming.IncrementalDedupStream
          .writer(src, store, "text", "doc_id", JaccardTau, ShingleN,
            Bands, RowsPerBand)
          .option("checkpointLocation", root.resolve("ckpt").toString)
          .start()
        q.processAllAvailable()
        q.stop()
    }
    store
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "dd1_exact_groups" -> ((s, dir) =>
      Dedup.exactDuplicateGroups(Tables(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("fp"))),

    "dd2_minhash_neardups" -> ((s, dir) =>
      Dedup.nearDuplicatePairs(Tables(s, dir, "documents"), "text", "doc_id",
          JaccardTau, ShingleN, Bands, RowsPerBand)
        .orderBy(col("id_a"), col("id_b"))),

    "dd3_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(Tables(s, dir, "documents"), "text", "doc_id",
          MaxHamming, PrefixBits)
        .orderBy(col("id_a"), col("id_b"))),

    // Containment (overlap-coefficient) near-dups: subset-duplication the
    // Jaccard pass misses.
    "dd4_containment_pairs" -> ((s, dir) =>
      Dedup.containmentPairs(Tables(s, dir, "documents"), "text", "doc_id",
          ContainTau, ShingleN, Bands, RowsPerBand)
        .orderBy(col("id_a"), col("id_b"))),

    // EXACT set-similarity join (count-based token join; see
    // Dedup.exactJaccardPairs vs the prefix-filter twin) — zero false
    // negatives, unlike the probabilistic LSH pass, so the oracle is the
    // plain all-pairs definition (pairs sharing any shingle, exact
    // Jaccard): the algorithm must reproduce it verbatim.
    "dd11_prefix_jaccard" -> ((s, dir) =>
      Dedup.exactJaccardPairs(Tables(s, dir, "documents"), "text",
          "doc_id", JaccardTau, ShingleN)
        .orderBy(col("id_a"), col("id_b"))),

    // DUPLICATION CONCENTRATION audit: the one-row corpus summary of
    // exact-duplicate structure — group counts, singleton/dup mass, the
    // largest clone family, and the exact GINI coefficient of document
    // mass across groups (how concentrated duplication is: a few huge
    // template families vs diffuse pairwise copies demand different
    // dedup strategies). Gini comes from the size HISTOGRAM, never a
    // corpus-wide rank: a run of m equal-size groups contributes
    // s·(m·r₀ + m(m−1)/2) to the Lorenz numerator in closed form, so
    // the window orders the bounded distinct-size rows only. All
    // integer; the two ppm terms floor-divide identically cross-engine.
    // CONTENT-DEFINED CHUNKING profile — the dedup-stable segmentation
    // primitive (FastCDC/LBFS lineage): a chunk boundary falls AFTER any
    // position whose trailing 16-char window hashes to 0 mod 64, so an
    // insertion early in a document moves only the boundaries inside its
    // own chunk — byte-offset chunking (pk2) re-cuts everything after the
    // edit, killing downstream chunk-level dedup. Boundaries use the
    // rolling Horner polynomial (B = 131 mod 2^31−1) the CdcBoundaries
    // kernel advances in O(1) per position — O(n) per document, scan-side
    // whole-stage codegen, no per-position string hashing; expected chunk
    // length is the divisor (64). Per doc: boundary count, chunk count,
    // mean chunk length in ppm of a char. The oracle recomputes every
    // window's polynomial directly (same value by algebra).
    "dd14_cdc_chunks" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("n_chars"),
          graft.functions.CdcBoundaries(col("text"), 16, 64)
            .cast("long").as("n_boundaries"))
        .select(col("doc_id"), col("n_chars"), col("n_boundaries"),
          (col("n_boundaries") + 1).as("n_chunks"),
          expr("n_chars * 1000000 div (n_boundaries + 1)")
            .as("mean_chunk_ppm_chars"))
        .orderBy(col("doc_id"))
    }),

    "dd13_dup_concentration" -> ((s, dir) => {
      val sizes = Tables(s, dir, "documents")
        .groupBy(md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
          .as("fp"))
        .agg(count(lit(1)).as("sz"))
      val hist = sizes.groupBy(col("sz")).agg(count(lit(1)).as("m"))
      // bounded global window: one row per DISTINCT group size
      val bySize = org.apache.spark.sql.expressions.Window
        .orderBy(col("sz"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      hist
        .withColumn("r0", coalesce(sum(col("m")).over(bySize), lit(0L)) + 1)
        .agg(sum(col("m")).as("n_groups"),
          sum(col("sz") * col("m")).as("n_docs"),
          sum(when(col("sz") === 1, col("m")).otherwise(0L))
            .as("n_singletons"),
          max(col("sz")).as("max_group_size"),
          sum(when(col("sz") > 1, col("sz") * col("m")).otherwise(0L))
            .as("dup_docs"),
          sum(col("sz") * (col("m") * col("r0") +
            expr("m * (m - 1) div 2"))).as("lorenz_num"))
        .select(col("n_groups"), col("n_docs"), col("n_singletons"),
          col("max_group_size"), col("dup_docs"),
          (expr("2 * lorenz_num * 1000000 div (n_groups * n_docs)") -
            expr("(n_groups + 1) * 1000000 div n_groups")).as("gini_ppm"))
    }),

    // LSH QUALITY EVALUATION — the measure-don't-guess op for the
    // near-dup stack: the MinHash band candidates scored against the
    // EXACT τ-Jaccard ground truth (the dd11 join — zero false
    // negatives by theorem), reporting candidate-set recall and
    // precision in exact ppm. This is how a pipeline owner picks
    // bands×rows for a new corpus: recall bounds what dedup can ever
    // catch, precision prices the verify stage. Scale shape: both sides
    // are the existing bucketed joins (never all-pairs); the comparison
    // is one semi-join on pair keys + three scalar counts.
    "dd12_lsh_eval" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      // lineage-cut (r12): truth and cand are each referenced twice
      // (the hit semi-join + their scalar counts), and every reference
      // re-ran the full exact-Jaccard / banded-LSH pair pipeline — the
      // cuts materialize the two bounded pair sets once
      val truth = graft.graph.GraphOps.checkpoint(
        Dedup.exactJaccardPairs(docs, "text", "doc_id",
          JaccardTau, ShingleN).select(col("id_a"), col("id_b")))
      val cand = graft.graph.GraphOps.checkpoint(
        Dedup.minhashCandidatePairs(docs, "text", "doc_id",
          ShingleN, Bands, RowsPerBand))
      val hit = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
        .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
        .select(col("n_truth"), col("n_cand"), col("n_hit"),
          expr("n_hit * 1000000 div n_truth").as("recall_ppm"),
          expr("n_hit * 1000000 div n_cand").as("precision_ppm"))
    }),

    // Incremental ingestion dedup: the corpus is split into an
    // already-ingested STORE (doc_id % 10 < 7) and an incoming BATCH; a
    // batch doc is dropped when it is a verified MinHash near-dup of any
    // store doc. The asymmetric batch-bands x store-bands join means an
    // incoming batch never triggers a corpus self-join — the store's
    // signatures are a standing table in production (see
    // Dedup.incrementalNearDupDrops). Output: the surviving batch docs.
    "dd7_incremental_dedup" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val store = docs.filter(col("doc_id") % 10 < 7)
      val batch = docs.filter(col("doc_id") % 10 >= 7)
      val drops = Dedup.incrementalNearDupDrops(store, batch, "text",
          "doc_id", JaccardTau, ShingleN, Bands, RowsPerBand)
        .withColumnRenamed("batch_id", "doc_id")
      batch.join(drops, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // The streaming ingestion dedup STORE, driver-gated end-to-end: the
    // corpus streams through the real writer in two deterministic
    // micro-batches (doc_id%10 ∈ [0,4] then [5,9]; one file per chunk,
    // mtime-ordered, maxFilesPerTrigger=1); each batch is greedily
    // self-deduped then deduped against the standing store, survivors
    // append as manifest-committed segments. The oracle replays the exact
    // two-step semantics as chained CTEs over the corpus-wide verified
    // pair set.
    "dd8_stream_dedup_store" -> ((s, dir) => {
      val store = streamedDedupStoreDir(s, dir)
      graft.streaming.ManifestStore.read(s, store)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Leakage-guarded train/eval split: hash-split the corpus, then drop
    // from TRAIN every verified MinHash near-dup of an EVAL doc — the
    // near-dup-level decontamination that dc1's passage-level pass can't
    // see (a paraphrased eval doc shares shingle SETS, not exact
    // passages). Same asymmetric banded join as dd7 with the roles
    // flipped: eval is the small side, train never self-joins.
    "cur7_leakage_split" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val eval_ = docs.filter(col("doc_id") % 10 === 9)
      val train = docs.filter(col("doc_id") % 10 =!= 9)
      val drops = Dedup.incrementalNearDupDrops(eval_, train, "text",
          "doc_id", JaccardTau, ShingleN, Bands, RowsPerBand)
        .withColumnRenamed("batch_id", "doc_id")
      train.join(drops, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // The composed corpus dedup: exact-duplicate collapse (keep the min id
    // per normalized fingerprint) then greedy near-dup drop (for each
    // verified pair, the higher id goes) — the standard
    // keep-one-per-cluster approximation that needs no iterative
    // connected-components pass, so it stays two shuffles at any corpus
    // size.
    "cur2_dedup_corpus" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val keepExact = Dedup.dropExactDuplicates(docs, "text", "doc_id")
        .select(col("doc_id"))
      val nearDrops = Dedup.nearDuplicatePairs(docs, "text", "doc_id",
          JaccardTau, ShingleN, Bands, RowsPerBand)
        .select(col("id_b").as("doc_id")).distinct()
      keepExact.join(nearDrops, Seq("doc_id"), "left_anti")
        .orderBy(col("doc_id"))
    }),

    // Duplicate-cluster formation: connected components over the verified
    // near-dup pair graph (large-star/small-star, O(log n) rounds — see
    // graft.graph.ConnectedComponents), every document labeled with its
    // cluster's min id; docs outside the graph are singletons. The
    // principled alternative to cur2's greedy drop when clusters chain
    // (A~B, B~C but A!~C still collapse to one cluster here).
    "dd5_dup_clusters" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.nearDuplicatePairs(docs, "text", "doc_id",
        JaccardTau, ShingleN, Bands, RowsPerBand)
      val comp = graft.graph.ConnectedComponents
        .minLabel(pairs, "id_a", "id_b")
      val labeled = docs.select(col("doc_id"))
        .join(comp, docs("doc_id") === comp("id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster_id"))
      val sizes = labeled.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"))
      labeled.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
        .orderBy(col("doc_id"))
    }),

    // INCREMENTALLY-maintained duplicate clusters, driver-gated: the dd5
    // pair set folded into a standing ClusterStore across two
    // manifest-committed streaming merges. Star-forest compression makes
    // each merge O(clustered nodes + batch pairs) — edge history is never
    // rescanned — and the merge is lossless, so the labels are
    // BIT-IDENTICAL to the one-shot recursive CC the oracle runs.
    "dd10_stream_cluster_store" -> ((s, dir) => {
      val store = streamedClusterStoreDir(s, dir)
      val docs = Tables(s, dir, "documents")
      val comp = graft.streaming.ClusterStore.labels(s, store)
      val labeled = docs.select(col("doc_id"))
        .join(comp, docs("doc_id") === comp("id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster_id"))
      val sizes = labeled.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"))
      labeled.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
        .orderBy(col("doc_id"))
    }),

    // Canonical-document selection: dedup-before-training keeps ONE doc per
    // near-dup cluster, and the right one — the highest-QUALITY member, not
    // the lowest id (crawl order is noise; quality is signal). dd5's
    // cluster labels + tx2's quality score + one per-cluster
    // WindowGroupLimit argmax (quality desc, doc_id tie-break). Scale: the
    // window partitions by cluster_id over the labeled corpus — bounded
    // per-cluster state, top-1 heaps before the exchange.
    "cur14_canonical_pick" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.nearDuplicatePairs(docs, "text", "doc_id",
        JaccardTau, ShingleN, Bands, RowsPerBand)
      val comp = graft.graph.ConnectedComponents
        .minLabel(pairs, "id_a", "id_b")
      // lineage-cut (r12): labeled feeds the size aggregate AND the
      // argmax window, whose exchange children differ (partial-agg vs
      // raw rows) so runtime exchange reuse cannot dedup them — without
      // the cut each consumer re-ran the quality kernel + label join
      val labeled = graft.graph.GraphOps.checkpoint(docs
        .select(col("doc_id"),
          graft.text.TextFunctions.qualityScore(col("text")).as("quality"))
        .join(comp, docs("doc_id") === comp("id"), "left")
        .select(col("doc_id"), col("quality"),
          coalesce(col("component"), col("doc_id")).as("cluster_id")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id"))
        .orderBy(col("quality").desc, col("doc_id"))
      val sizes = labeled.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"))
      labeled.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .join(sizes, "cluster_id")
        .select(col("cluster_id"), col("doc_id").as("keep_doc_id"),
          col("quality").as("keep_quality"), col("cluster_size"))
        .orderBy(col("cluster_id"))
    })
  )

  /** Shared CTE chain through LSH candidate pairs (`cand`), reused by the
    * pair queries and the corpus-dedup composition.
    */
  private[ops] val candCte: String = s"""
      $shinglesCte, hs AS (
        SELECT doc_id, list_transform(s,
          x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % ${Dedup.HashPrime}) AS h
        FROM sh
      ), sig AS (
        SELECT doc_id, ${
          Dedup.hashFamily(Bands * RowsPerBand).map { case (a, b) =>
            s"list_min(list_transform(h, v -> (v * $a + $b) % ${Dedup.HashPrime}))"
          }.mkString("[", ",\n          ", "]")} AS sg
        FROM hs
      ), banded AS (
        SELECT doc_id, band, md5(array_to_string(list_transform(
          list_slice(sg, band * $RowsPerBand + 1, band * $RowsPerBand + $RowsPerBand),
          v -> v::VARCHAR), ',')) AS bucket
        FROM sig, (SELECT unnest(generate_series(0, ${Bands - 1})) AS band)
      ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      )"""

  private[ops] val jaccardPairsSql: String = s"""
      SELECT c.id_a, c.id_b,
        len(list_filter(sa.s, x -> list_contains(sb.s, x)))::DOUBLE
          / len(list_distinct(sa.s || sb.s)) AS jaccard
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b"""

  val oracleSql: Map[String, String] = Map(
    "dd1_exact_groups" -> raw"""
      SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
             min(doc_id) AS keep_id, count(*) AS n_copies
      FROM documents GROUP BY 1 ORDER BY fp""",

    "dd2_minhash_neardups" -> s"""
      $candCte
      SELECT * FROM ($jaccardPairsSql)
      WHERE jaccard >= $JaccardTau ORDER BY id_a, id_b""",

    // The engine-independent DEFINITION of the exact τ-Jaccard join:
    // every pair sharing at least one shingle (J ≥ τ > 0 implies a shared
    // element), exact Jaccard, threshold — no prefix mirror needed
    // because prefix filtering is lossless by theorem.
    "dd11_prefix_jaccard" -> s"""
      $shinglesCte, ex AS (
        SELECT doc_id, UNNEST(s) AS tok FROM sh
      ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id < b.doc_id
      )
      SELECT * FROM ($jaccardPairsSql)
      WHERE jaccard >= $JaccardTau ORDER BY id_a, id_b""",

    // Direct per-window Horner recompute of the kernel's rolling hash:
    // list_reduce's seed is the window's first code point, matching the
    // kernel's h=0 Horner start.
    "dd14_cdc_chunks" -> raw"""
      WITH b AS (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
          CAST(CASE WHEN length(text) < 16 THEN 0 ELSE
            len(list_filter(list_transform(
              range(16, length(text) + 1),
              i -> list_reduce(list_transform(generate_series(i - 15, i),
                j -> CAST(ord(substr(text, CAST(j AS INT), 1)) AS BIGINT)),
                (a, c) -> (a * 131 + c) % 2147483647) % 64),
              h -> h = 0)) END AS BIGINT) AS n_boundaries
        FROM documents
      )
      SELECT doc_id, n_chars, n_boundaries,
        CAST(n_boundaries + 1 AS BIGINT) AS n_chunks,
        CAST(n_chars * 1000000 // (n_boundaries + 1) AS BIGINT)
          AS mean_chunk_ppm_chars
      FROM b ORDER BY doc_id""",

    "dd13_dup_concentration" -> raw"""
      WITH sizes AS (
        SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
          AS fp, CAST(COUNT(*) AS BIGINT) AS sz
        FROM documents GROUP BY 1
      ), hist AS (
        SELECT sz, CAST(COUNT(*) AS BIGINT) AS m FROM sizes GROUP BY 1
      ), ranked AS (
        SELECT sz, m,
          COALESCE(CAST(SUM(m) OVER (ORDER BY sz
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
            0) + 1 AS r0
        FROM hist
      ), agg AS (
        SELECT CAST(SUM(m) AS BIGINT) AS n_groups,
          CAST(SUM(sz * m) AS BIGINT) AS n_docs,
          CAST(SUM(CASE WHEN sz = 1 THEN m ELSE 0 END) AS BIGINT)
            AS n_singletons,
          CAST(MAX(sz) AS BIGINT) AS max_group_size,
          CAST(SUM(CASE WHEN sz > 1 THEN sz * m ELSE 0 END) AS BIGINT)
            AS dup_docs,
          CAST(SUM(sz * (m * r0 + m * (m - 1) // 2)) AS BIGINT)
            AS lorenz_num
        FROM ranked
      )
      SELECT n_groups, n_docs, n_singletons, max_group_size, dup_docs,
        CAST(2 * lorenz_num * 1000000 // (n_groups * n_docs)
          - (n_groups + 1) * 1000000 // n_groups AS BIGINT) AS gini_ppm
      FROM agg""",

    "dd12_lsh_eval" -> s"""
      $candCte, ex AS (
        SELECT doc_id, UNNEST(s) AS tok FROM sh
      ), tcand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id < b.doc_id
      ), truth AS (
        SELECT id_a, id_b FROM (
          SELECT c.id_a, c.id_b,
            len(list_filter(sa.s, x -> list_contains(sb.s, x)))::DOUBLE
              / len(list_distinct(sa.s || sb.s)) AS jaccard
          FROM tcand c
          JOIN sh sa ON sa.doc_id = c.id_a
          JOIN sh sb ON sb.doc_id = c.id_b
        ) WHERE jaccard >= $JaccardTau
      ), hit AS (
        SELECT t.id_a, t.id_b FROM truth t
        JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b
      )
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_cand,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_hit,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) * 1000000
          // (SELECT COUNT(*) FROM truth) AS recall_ppm,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) * 1000000
          // (SELECT COUNT(*) FROM cand) AS precision_ppm""",

    "dd7_incremental_dedup" -> s"""
      $candCte, verified AS (
        SELECT id_a, id_b FROM ($jaccardPairsSql)
        WHERE jaccard >= $JaccardTau
      ), drops AS (
        SELECT id_b AS doc_id FROM verified
        WHERE id_a % 10 < 7 AND id_b % 10 >= 7
        UNION
        SELECT id_a AS doc_id FROM verified
        WHERE id_b % 10 < 7 AND id_a % 10 >= 7
      )
      SELECT doc_id, source, n_chars FROM documents
      WHERE doc_id % 10 >= 7
        AND doc_id NOT IN (SELECT doc_id FROM drops)
      ORDER BY doc_id""",

    "dd8_stream_dedup_store" -> s"""
      $candCte, verified AS (
        SELECT id_a, id_b FROM ($jaccardPairsSql)
        WHERE jaccard >= $JaccardTau
      ), k1 AS (
        -- batch 1 (doc_id%10 in [0,4]): greedy self-dedup, store empty
        SELECT doc_id FROM documents WHERE doc_id % 10 <= 4
          AND doc_id NOT IN (SELECT id_b FROM verified
                             WHERE id_a % 10 <= 4 AND id_b % 10 <= 4)
      ), sc2 AS (
        -- batch 2 self-dedup
        SELECT doc_id FROM documents WHERE doc_id % 10 >= 5
          AND doc_id NOT IN (SELECT id_b FROM verified
                             WHERE id_a % 10 >= 5 AND id_b % 10 >= 5)
      ), k2 AS (
        -- then drop batch-2 survivors near-dupping any STORE (k1) doc
        SELECT doc_id FROM sc2 WHERE doc_id NOT IN (
          SELECT id_b FROM verified WHERE id_a IN (SELECT doc_id FROM k1)
          UNION
          SELECT id_a FROM verified WHERE id_b IN (SELECT doc_id FROM k1)
        )
      )
      SELECT doc_id, source, n_chars FROM documents
      WHERE doc_id IN (SELECT doc_id FROM k1
                       UNION SELECT doc_id FROM k2)
      ORDER BY doc_id""",

    "cur7_leakage_split" -> s"""
      $candCte, verified AS (
        SELECT id_a, id_b FROM ($jaccardPairsSql)
        WHERE jaccard >= $JaccardTau
      ), drops AS (
        SELECT id_b AS doc_id FROM verified
        WHERE id_a % 10 = 9 AND id_b % 10 != 9
        UNION
        SELECT id_a AS doc_id FROM verified
        WHERE id_b % 10 = 9 AND id_a % 10 != 9
      )
      SELECT doc_id, source, n_chars FROM documents
      WHERE doc_id % 10 != 9
        AND doc_id NOT IN (SELECT doc_id FROM drops)
      ORDER BY doc_id""",

    "dd3_simhash_pairs" -> s"""
      $shinglesCte, hs AS (
        SELECT doc_id, list_transform(array_distinct(t),
          x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS h
        FROM toks
      ), sim AS (
        SELECT doc_id,
          list_sum(list_transform(generate_series(0, 59), j ->
            CASE WHEN 2 * len(list_filter(h,
                v -> (v & CAST(power(2, j) AS BIGINT)) != 0)) >= len(h)
              THEN CAST(power(2, j) AS BIGINT) ELSE 0 END))::BIGINT AS sh,
          doc_id AS id FROM hs
      ), bucketed AS (
        SELECT id, sh, sh >> ${60 - PrefixBits} AS bucket FROM sim
      )
      SELECT * FROM (
        SELECT a.id AS id_a, b.id AS id_b,
          bit_count(xor(a.sh, b.sh)) AS hamming
        FROM bucketed a JOIN bucketed b
          ON a.bucket = b.bucket AND a.id < b.id
      ) WHERE hamming <= $MaxHamming ORDER BY id_a, id_b""",

    "dd4_containment_pairs" -> s"""
      $candCte
      SELECT * FROM (
        SELECT c.id_a, c.id_b,
          len(list_filter(sa.s, x -> list_contains(sb.s, x)))::DOUBLE
            / least(len(sa.s), len(sb.s)) AS containment
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b
      ) WHERE containment >= $ContainTau ORDER BY id_a, id_b""",

    "cur2_dedup_corpus" -> raw"""
      $candCte, near_drops AS (
        SELECT DISTINCT id_b AS doc_id FROM ($jaccardPairsSql)
        WHERE jaccard >= $JaccardTau
      ), exact_keep AS (
        SELECT min(doc_id) AS doc_id FROM documents
        GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
      )
      SELECT doc_id FROM exact_keep
      WHERE doc_id NOT IN (SELECT doc_id FROM near_drops)
      ORDER BY doc_id""",

    // Min-label reachability as a recursive CTE: enumerate (node, reachable
    // label) pairs to a fixpoint (UNION dedups, so it terminates), then take
    // the min per node — exact same labels the star-contraction computes.
    "dd5_dup_clusters" -> s"""
      ${candCte.replaceFirst("WITH", "WITH RECURSIVE")}, pr AS (
        SELECT id_a, id_b FROM ($jaccardPairsSql)
        WHERE jaccard >= $JaccardTau
      ), sym AS (
        SELECT id_a AS a, id_b AS b FROM pr
        UNION ALL SELECT id_b, id_a FROM pr
      ), reach AS (
        SELECT doc_id AS id, doc_id AS lab FROM documents
        UNION
        SELECT s.b AS id, r.lab FROM reach r JOIN sym s ON s.a = r.id
      ), comp AS (
        SELECT id AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY id
      )
      SELECT c.doc_id, c.cluster_id, n.cluster_size
      FROM comp c JOIN (
        SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY 1
      ) n USING (cluster_id)
      ORDER BY doc_id""",

    // Incremental ≡ one-shot (lossless star-forest merges), so the
    // standing store's labels are oracled by the SAME recursive CC the
    // one-shot dd5 gate uses.
    "dd10_stream_cluster_store" -> s"""
      ${candCte.replaceFirst("WITH", "WITH RECURSIVE")}, pr AS (
        SELECT id_a, id_b FROM ($jaccardPairsSql)
        WHERE jaccard >= $JaccardTau
      ), sym AS (
        SELECT id_a AS a, id_b AS b FROM pr
        UNION ALL SELECT id_b, id_a FROM pr
      ), reach AS (
        SELECT doc_id AS id, doc_id AS lab FROM documents
        UNION
        SELECT s.b AS id, r.lab FROM reach r JOIN sym s ON s.a = r.id
      ), comp AS (
        SELECT id AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY id
      )
      SELECT c.doc_id, c.cluster_id, n.cluster_size
      FROM comp c JOIN (
        SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY 1
      ) n USING (cluster_id)
      ORDER BY doc_id""",

    // dd5's recursive CC + tx2's quality arithmetic + a per-cluster argmax
    // — the per-cluster pick is the same (quality DESC, doc_id) order both
    // engines evaluate on identical doubles.
    "cur14_canonical_pick" -> s"""
      ${candCte.replaceFirst("WITH", "WITH RECURSIVE")}, pr AS (
        SELECT id_a, id_b FROM ($jaccardPairsSql)
        WHERE jaccard >= $JaccardTau
      ), sym AS (
        SELECT id_a AS a, id_b AS b FROM pr
        UNION ALL SELECT id_b, id_a FROM pr
      ), reach AS (
        SELECT doc_id AS id, doc_id AS lab FROM documents
        UNION
        SELECT s.b AS id, r.lab FROM reach r JOIN sym s ON s.a = r.id
      ), comp AS (
        SELECT id AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY id
      ), labeled AS (
        SELECT d.doc_id, c.cluster_id,
          ${TextQueries.qualitySql} AS quality
        FROM documents d JOIN comp c ON c.doc_id = d.doc_id
      ), sizes AS (
        SELECT cluster_id, COUNT(*) AS cluster_size FROM labeled GROUP BY 1
      ), picked AS (
        SELECT cluster_id, doc_id AS keep_doc_id, quality AS keep_quality,
          ROW_NUMBER() OVER (PARTITION BY cluster_id
                             ORDER BY quality DESC, doc_id) AS rn
        FROM labeled
      )
      SELECT p.cluster_id, p.keep_doc_id, p.keep_quality, s.cluster_size
      FROM picked p JOIN sizes s USING (cluster_id)
      WHERE rn = 1 ORDER BY cluster_id"""
  )
}
