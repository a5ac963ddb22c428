package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.functions.Cleaning.{dsum, lcount}
import graft.operators.{IncrementalAgg, Similarity, Sketches}
import graft.sources.Tables
import graft.streaming.{EventStream, StreamAnn, StreamAsOf, StreamBm25, StreamCdc, StreamDedup, StreamFunnel, StreamItemCf, StreamMarkov, StreamSemDedup, StreamSketch, StreamSkyline, ViewMaintain}
import graft.queries.Q.{C, DS}

/** Oracle-registered readouts for every persisted streaming maintainer —
  * the c11/c12 pattern widened to the whole streaming/ package: each
  * query folds 2+ real micro-batches through the maintainer's
  * `applyBatch` into a memoized per-(JVM, dir) [[graft.sources.TableStore]]
  * ([[Q.foldedStore]] — built once, read per execution, the production
  * maintained-state shape), reads the MAINTAINED STATE back, and the
  * DuckDB oracle recomputes the same answer one-shot from the raw
  * tables. A hash match makes "stream ≡ batch" a driver-checked
  * invariant for the state the engine actually persists, not just a
  * spec-internal assertion.
  *
  * Batch splits are chosen uncorrelated with the operator's key wherever
  * cross-batch interaction is the thing under test (CDC reordering, join
  * partners straddling batches), and correlated (old/new corpus halves)
  * where the incremental contract is "new batch vs stored history".
  */
object StreamingQueries {

  /** CDC mirror fold ([[StreamCdc.applyBatch]]): a Debezium-shaped op
    * feed over `orders` — every order inserted (seq 1), every 3rd
    * updated (seq 2: status 'U', price +10), every 5th deleted (seq 3)
    * — split into two micro-batches by a hash UNCORRELATED with the
    * sequence, so some keys' deletes arrive a batch BEFORE their stale
    * updates (the tombstone-resurrection window the mirror exists to
    * close). The readout is the presented mirror; the oracle replays
    * max-seq-wins over the whole feed. A hash match certifies the
    * bucketed fold, the tombstone retention, and the replay guard
    * jointly.
    */
  private val cdcMirror = Q(
    "c13_stream_cdc_mirror",
    """WITH feed AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS seq, 'I' AS op
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 'U', o_totalprice + 10, 2, 'U'
      |  FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus, o_totalprice, 3, 'D'
      |  FROM orders WHERE o_orderkey % 5 = 0),
      |w AS (SELECT *, row_number() OVER
      |        (PARTITION BY o_orderkey ORDER BY seq DESC, op ASC) AS rn
      |      FROM feed)
      |SELECT o_orderkey, o_orderstatus, o_totalprice
      |FROM w WHERE rn = 1 AND op <> 'D'""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val feed = o
      .withColumn("seq", lit(1L)).withColumn("op", lit("I"))
      .unionByName(o.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") + 10)
        .withColumn("seq", lit(2L)).withColumn("op", lit("U")))
      .unionByName(o.filter(col("o_orderkey") % 5 === 0)
        .withColumn("seq", lit(3L)).withColumn("op", lit("D")))
      // key ⊗ seq hash: for keys with both an update and a delete, half
      // get the delete FIRST and the stale update in the later batch —
      // without the tombstone the dead key would silently resurrect
      .withColumn("__b",
        pmod(col("o_orderkey") * 7 + col("seq") * 3, lit(2)).cast(IntegerType))
    val store = Q.foldedStore(s, d, "c13") { st =>
      val fold = StreamCdc.applyBatch(st, "mirror", Seq("o_orderkey"),
        "seq", "op", nBuckets = 4) _
      (0 to 1).foreach(i => fold(feed.filter(col("__b") === i).drop("__b"), i.toLong))
    }
    // C1 guard: an all-empty feed never materializes the mirror (partition
    // replacement writes nothing) — present an empty frame of its shape
    val mirror =
      if (store.exists("mirror")) store.read("mirror")
      else feed.drop("__b").limit(0)
    StreamCdc.present(mirror, "seq", "op")
  }

  /** Streaming aggregate-view maintenance ([[ViewMaintain.applyBatch]]):
    * the c7 running (count, decimal-sum) state maintained by folding
    * TWO order-key-split batches of lineitem into the bucketed store.
    * The oracle re-aggregates one-shot — bit-equality proves the
    * bucketed delta merge (including the `__applied` double-fold guard's
    * happy path) equals re-shuffling all of history.
    */
  private val viewAgg = Q(
    "c14_stream_view_agg",
    s"""SELECT l_returnflag, l_linestatus, $C AS n,
       |       ${DS("l_quantity")} AS sum_l_quantity,
       |       ${DS("l_extendedprice")} AS sum_l_extendedprice
       |FROM lineitem GROUP BY 1, 2""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val keys = Seq("l_returnflag", "l_linestatus")
    val sums = Seq("l_quantity", "l_extendedprice")
    val store = Q.foldedStore(s, d, "c14") { st =>
      val fold = ViewMaintain.applyBatch(st, "vagg", keys, sums, nBuckets = 4) _
      fold(li.filter(col("l_orderkey") % 3 === 0), 0L)
      fold(li.filter(col("l_orderkey") % 3 > 0), 1L)
    }
    // C1 guard: empty feed → no stored state; fromBatch over zero rows
    // reproduces the state schema exactly
    val state =
      if (store.exists("vagg")) store.read("vagg").drop("__bucket", "__applied")
      else IncrementalAgg.fromBatch(li.limit(0), keys, sums)
    IncrementalAgg.present(state, keys, sums)
  }

  /** Streaming near-dup maintenance ([[StreamDedup.applyBatch]]): the
    * band-key store + candidate-pair log folded over the corpus in two
    * batches (history < 250, arrivals ≥ 250 — the same split
    * `dedup_incremental_pairs` certifies one fold of). The readout is
    * the UNION of the emitted per-batch pair logs; the oracle is the
    * one-shot banded-LSH pair set over the whole corpus — equality IS
    * the maintainer's core contract (every cross-batch and in-batch pair
    * surfaces exactly once, nothing re-shingled).
    */
  private val nearDupLog = Q(
    "c15_stream_neardup_log",
    s"""WITH ${LlmText.sigCte},
       |bands AS (SELECT doc_id, CAST(seed // 4 AS BIGINT) AS band,
       |                 string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed) AS band_key
       |          FROM sig GROUP BY 1, 2)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id""".stripMargin) {
    (s, d) =>
    val docs = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val store = Q.foldedStore(s, d, "c15") { st =>
      val fold = StreamDedup.applyBatch(st, "bands", "pairs", "doc_id", "text",
        numHashes = 16, rowsPerBand = 4, shingleN = 3) _
      fold(docs.filter(col("doc_id") < 250), 0L)
      fold(docs.filter(col("doc_id") >= 250), 1L)
    }
    // C1 guard: empty feed → no pair-log partitions ever land
    val pairs =
      if (store.exists("pairs")) store.read("pairs")
      else docs.limit(0)
        .select(col("doc_id").as("doc_a"), col("doc_id").as("doc_b"))
    pairs.select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Streaming substring-dedup maintenance ([[StreamDedup
    * .applySubstringBatch]]): the span-count store + duplicated-span log
    * folded over the same two-batch split. Two certifications in one
    * readout: the store's per-span SUM over batch partitions must equal
    * the one-shot corpus index (`src = 'store'`), and batch 1's emitted
    * dup log must equal the incremental-maintenance answer for the
    * arrivals (`src = 'batch1'`, the `dedup_substring_incremental`
    * contract) — so both the persisted counts and the emitted deltas are
    * driver-checked.
    */
  private val substringStore = Q(
    "c16_stream_substring_store",
    s"""WITH ${LlmText.spanOccCte},
       |agg AS (SELECT span_h, CAST(count(*) AS BIGINT) AS n_occ,
       |               CAST(SUM(CASE WHEN doc_id >= 250 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
       |        FROM occ GROUP BY 1)
       |SELECT 'store' AS src, span_h, n_occ, CAST(NULL AS BIGINT) AS n_new
       |FROM agg WHERE n_occ > 1
       |UNION ALL
       |SELECT 'batch1', span_h, n_occ, n_new
       |FROM agg WHERE n_occ > 1 AND n_new > 0""".stripMargin) { (s, d) =>
    val docs = Tables.spread(Tables.documents(s, d))
    val store = Q.foldedStore(s, d, "c16") { st =>
      val fold = StreamDedup.applySubstringBatch(st, "spans", "dups",
        "doc_id", "text", l = 8) _
      fold(docs.filter(col("doc_id") < 250), 0L)
      fold(docs.filter(col("doc_id") >= 250), 1L)
    }
    // C1 guard: empty feed → neither store lands; rebuild both shapes
    // from the fold's own constructors over zero rows
    def emptyOcc = graft.operators.Dedup.spanOccurrences(
      docs.limit(0), "doc_id", "text", l = 8)
    val spans =
      if (store.exists("spans")) store.read("spans")
      else graft.operators.Dedup.spanCountStoreFromOcc(emptyOcc)
    val dups =
      if (store.exists("dups")) store.read("dups").filter(col("__batch") === 1)
      else graft.operators.Dedup.incrementalDuplicatedSpans(
        graft.operators.Dedup.spanCountStoreFromOcc(emptyOcc), emptyOcc)
    spans
      .groupBy(col("span_h"))
      .agg(sum(col("n_old")).cast(LongType).as("n_occ"))
      .filter(col("n_occ") > 1)
      .select(lit("store").as("src"), col("span_h"), col("n_occ"),
        lit(null).cast(LongType).as("n_new"))
      .unionByName(dups
        .select(lit("batch1").as("src"), col("span_h"), col("n_occ"), col("n_new")))
  }

  /** Streaming ANN maintenance ([[StreamAnn.applyBatch]]): history
    * (vec_id % 40 ≠ 7) folds as batch 0 — building the centroid-
    * partitioned inverted lists — and the arrivals fold as batch 1,
    * probing their top-4 lists and logging cosine top-3 among history.
    * The readout is batch 1's neighbor log; the oracle replays the whole
    * IVF pipeline (strided centroids, home assignment, probes,
    * bucket-join candidates, ranked cosines) in SQL — the same replay
    * `embed_ann_incremental` certifies for the batch twin, here run
    * against the PERSISTED list store.
    */
  private val annLog = Q(
    "c17_stream_ann_log",
    """WITH emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |             FROM embeddings),
      |hist AS (SELECT * FROM emb WHERE vec_id % 40 <> 7),
      |newb AS (SELECT * FROM emb WHERE vec_id % 40 = 7),
      |str AS (SELECT greatest(1, CAST(floor(count(*) / 16.0) AS BIGINT)) AS s FROM embeddings),
      |cents AS (SELECT vec_id AS cid, v AS cv FROM
      |            (SELECT vec_id, v FROM hist, str WHERE vec_id % s = 0
      |             ORDER BY vec_id LIMIT 16)),
      |nc AS (SELECT cid, CAST(list_dot_product(cv, cv) AS DOUBLE) AS n2 FROM cents),
      |hsim AS (SELECT hist.vec_id, cents.cid,
      |                round(CAST(list_dot_product(hist.v, cents.cv) AS DOUBLE)
      |                      / (sqrt(CAST(list_dot_product(hist.v, hist.v) AS DOUBLE)) * sqrt(nc.n2)), 12) AS cs
      |         FROM hist CROSS JOIN cents JOIN nc ON nc.cid = cents.cid),
      |lists AS (SELECT vec_id AS nid, cid FROM
      |            (SELECT vec_id, cid,
      |                    row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS r
      |             FROM hsim) WHERE r = 1),
      |qsim AS (SELECT newb.vec_id, cents.cid,
      |                round(CAST(list_dot_product(newb.v, cents.cv) AS DOUBLE)
      |                      / (sqrt(CAST(list_dot_product(newb.v, newb.v) AS DOUBLE)) * sqrt(nc.n2)), 12) AS cs
      |         FROM newb CROSS JOIN cents JOIN nc ON nc.cid = cents.cid),
      |probes AS (SELECT vec_id AS qid, cid FROM
      |             (SELECT vec_id, cid,
      |                     row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS r
      |              FROM qsim) WHERE r <= 4),
      |cand AS (SELECT DISTINCT qid, nid FROM probes JOIN lists USING (cid))
      |SELECT qid, nid, cosine, rnk
      |FROM (SELECT qid, nid, cosine,
      |             CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS BIGINT) AS rnk
      |      FROM (SELECT cand.qid, cand.nid,
      |                   round(CAST(list_dot_product(a.v, b.v) AS DOUBLE)
      |                         / (sqrt(CAST(list_dot_product(a.v, a.v) AS DOUBLE))
      |                            * sqrt(CAST(list_dot_product(b.v, b.v) AS DOUBLE))), 12) AS cosine
      |            FROM cand
      |            JOIN emb a ON a.vec_id = cand.qid
      |            JOIN emb b ON b.vec_id = cand.nid))
      |WHERE rnk <= 3""".stripMargin) { (s, d) =>
    val embD = Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
    val store = Q.foldedStore(s, d, "c17") { st =>
      val hist = embD.filter(pmod(col("vec_id"), lit(40)) =!= 7)
      val newb = embD.filter(pmod(col("vec_id"), lit(40)) === 7)
      val cents = Similarity.stridedSeeds(hist, "vec_id",
          Similarity.seedStride(Tables.rowCount(s, d, "embeddings"), 16), 16)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val fold = StreamAnn.applyBatch(st, "lists", "nbrs", cents,
        probe = 4, k = 3) _
      fold(hist, 0L)
      fold(newb, 1L)
    }
    // C1 guard: empty feed → no neighbor-log partitions ever land
    val nbrs =
      if (store.exists("nbrs")) store.read("nbrs").filter(col("__batch") === 1)
      else embD.limit(0).select(col("vec_id").as("qid"),
        col("vec_id").as("nid"), lit(0.0).as("cosine"), lit(0L).as("rnk"))
    nbrs.select(col("qid"), col("nid"), col("cosine"), col("rnk"))
  }

  /** Streaming SemDeDup maintenance ([[StreamSemDedup.applyBatch]]): the
    * embedding corpus arrives as three `vec_id % 3` batches and folds
    * into a persisted cluster-partitioned member store carrying kept
    * flags — frozen stride-seeded coarse centroids (every 125th batch-0
    * vec_id, so k grows with the corpus and cluster population stays
    * ~constant: per-fold pairwise work is linear), duplicates decided by
    * arrival precedence (earlier batch, or lower vec_id within a batch)
    * at cosine ≥ 0.35. The readout is the full maintained store; the
    * oracle replays the whole thing one-shot in SQL — assignment against
    * the same frozen centroids plus an EXISTS over precedence-ordered
    * within-cluster pairs — so "maintained kept flags ≡ batch replay" is
    * driver-hash-checked.
    */
  /** Streaming EXACT prefix-Jaccard maintenance
    * ([[StreamDedup.applyPrefixBatch]]): the PPJoin shingle + stable-
    * order prefix stores folded over the corpus in two batches (history
    * < 250, arrivals ≥ 250). The readout is the UNION of the per-batch
    * pair logs; the oracle is [[LlmText.prefixJaccardOracleSql]] —
    * VERBATIM the one-shot `dedup_prefix_jaccard` oracle (brute-force
    * shingle self-join), so a hash match certifies the full chain:
    * maintained pairs ≡ one-shot PPJoin ≡ brute force, exact VALUES
    * included, with history never re-shingled and prefixes never
    * re-ranked (the df-free (xxhash64, shingle) order is what makes a
    * stored prefix immutable — see
    * [[graft.operators.Dedup.prefixRankedStable]]).
    */
  private val prefixJaccardStream = Q(
    "c22_stream_prefix_jaccard", LlmText.prefixJaccardOracleSql) { (s, d) =>
    val docs = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val store = Q.foldedStore(s, d, "c22") { st =>
      val fold = StreamDedup.applyPrefixBatch(st, "ppj_sh", "ppj_prefix",
        "ppj_pairs", "doc_id", "text", BigDecimal("0.7"), 3) _
      // split at doc_id 250, not balanced halves: an r18 A/B measured the
      // parity split ~25% SLOWER (12.8 → 15.6 s min-of-2) — the small-
      // history shape keeps fold 0's self-join trivial and fold 1's probe
      // one index-sized join, which plans better than two mid-sized ones
      fold(docs.filter(col("doc_id") < 250), 0L)
      fold(docs.filter(col("doc_id") >= 250), 1L)
    }
    // C1 guard: empty feed → no pair-log partitions ever land
    val pairs =
      if (store.exists("ppj_pairs")) store.read("ppj_pairs")
      else docs.limit(0).select(col("doc_id").as("doc_a"),
        col("doc_id").as("doc_b"), lit(0.0).as("jaccard"))
    pairs.select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Streaming EXACT edit-distance maintenance
    * ([[StreamDedup.applyEditBatch]]): the part-name vocabulary arrives
    * in two batches (even ids, then odd ids) and folds into persisted
    * doc + value-grain segment stores; each fold emits the ED-≤-2 pairs
    * it completes via the PassJoin pigeonhole (probe(batch) ⋈
    * segments(history ∪ batch) — one direction, ED is symmetric) with a
    * direct levenshtein verify. The readout is the UNION of the
    * per-batch pair logs; the oracle is [[LlmText.editPairsOracleSql]] —
    * VERBATIM the one-shot `dedup_edit_pairs` oracle (brute-force
    * levenshtein self-join), so a hash match certifies maintained pairs
    * ≡ one-shot PassJoin ≡ brute force, exact distances included, with
    * history never re-segmented (the (length, index, text) segment key
    * is value-derived and immutable — no order to freeze, unlike the
    * PPJoin maintainer's df-free prefix ranks).
    */
  private val editPairsStream = Q(
    "c23_stream_edit_pairs", LlmText.editPairsOracleSql) { (s, d) =>
    val names = Tables.part(s, d).groupBy(col("p_name"))
      .agg(min(col("p_partkey")).cast("long").as("id"))
    val store = Q.foldedStore(s, d, "c23") { st =>
      val fold = StreamDedup.applyEditBatch(st, "ed_docs", "ed_segs",
        "ed_pairs", "id", "p_name", 2) _
      fold(names.filter(col("id") % 2 === 0), 0L)
      fold(names.filter(col("id") % 2 === 1), 1L)
    }
    // C1 guard: empty feed → no pair-log partitions ever land
    val pairs =
      if (store.exists("ed_pairs")) store.read("ed_pairs")
      else names.limit(0).select(col("id").as("id_a"),
        col("id").as("id_b"), lit(0).cast("int").as("dist"))
    pairs.select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Streaming EXACT Hamming-≤1 SimHash maintenance
    * ([[StreamDedup.applyHammingBatch]]): the corpus arrives in two
    * batches (even doc ids, then odd) and folds into a persisted
    * one-row-per-doc signature store; each fold token-hashes ONLY its
    * batch, re-chunks stored signatures map-side (free — the chunk is a
    * shift/mask of the stored 32-bit hash), and emits the Hamming-≤1
    * pairs it completes via the pigeonhole bucket join. The readout is
    * the UNION of the per-batch pair logs; the oracle is
    * [[LlmText.hammingOracleSql]] — VERBATIM the one-shot
    * `dedup_hamming_pairs` brute-force oracle, so a hash match certifies
    * maintained pairs ≡ one-shot pigeonhole ≡ brute force, exact
    * distances included, with history never re-hashed.
    */
  private val hammingStream = Q(
    "c25_stream_hamming_pairs", LlmText.hammingOracleSql) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val store = Q.foldedStore(s, d, "c25") { st =>
      val fold = StreamDedup.applyHammingBatch(st, "sh_sigs", "sh_pairs",
        "doc_id", "text", 1) _
      fold(docs.filter(col("doc_id") % 2 === 0), 0L)
      fold(docs.filter(col("doc_id") % 2 === 1), 1L)
    }
    // C1 guard: empty feed → no pair-log partitions ever land
    val pairs =
      if (store.exists("sh_pairs")) store.read("sh_pairs")
      else docs.limit(0).select(col("doc_id").as("doc_a"),
        col("doc_id").as("doc_b"), lit(0).cast(IntegerType).as("hamming"))
    pairs.select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Streaming inverted-index maintenance ([[StreamBm25.applyBatch]]):
    * the corpus arrives in two batches (even doc ids, then odd) and
    * folds into a persisted postings store (doc, token, tf) plus a
    * one-row-per-doc length store — append-only (postings are
    * value-derived, doc ids unique), two O(batch) partitions per fold
    * under one committed marker. The readout runs
    * the fixed [[LlmText.bm25Terms]] query against the MAINTAINED index:
    * term-pruned postings read (predicate pushdown on the token column),
    * corpus statistics aggregated from the stores, and the ranking tail
    * is [[LlmText.bm25Rank]] — the same Column expression the one-shot
    * uses — so the oracle is VERBATIM the `text_bm25_search` SQL and a
    * hash match certifies maintained index ≡ one-shot retrieval,
    * scores included, with history never re-tokenized.
    */
  private val bm25Index = Q(
    "c26_stream_bm25_index", LlmText.bm25OracleSql) { (s, d) =>
    val docs = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val store = Q.foldedStore(s, d, "c26") { st =>
      val fold = StreamBm25.applyBatch(st, "bm_posts", "bm_dl",
        "doc_id", "text") _
      fold(docs.filter(col("doc_id") % 2 === 0), 0L)
      fold(docs.filter(col("doc_id") % 2 === 1), 1L)
    }
    // C1 guard: empty feed → no store partitions ever land
    if (!store.exists("bm_dl"))
      docs.limit(0).select(col("doc_id"),
        lit(0L).as("tf1"), lit(0L).as("tf2"), lit(0L).as("tf3"),
        lit(0L).as("dl"), lit(0.0).as("score"))
    else {
      val (tf, dfRow, nRow, sRow) = StreamBm25.searchFrames(
        store, "bm_posts", "bm_dl", LlmText.bm25Terms)
      LlmText.bm25Rank(tf, dfRow, nRow, sRow)
    }
  }

  /** Streaming duplicate-CLUSTER maintenance
    * ([[StreamDedup.applyClusterBatch]]): the corpus arrives in two
    * batches (even doc ids, then odd) and folds into a persisted band
    * store plus a label-DELTA store — per batch only the docs newly
    * labeled or relabeled land (a new edge can merge old components and
    * relabel history, so labels can't be naively partition-appended;
    * the delta keeps writes O(Δ)). The readout takes each doc's
    * latest-batch delta row; the oracle is [[LlmText.ccOracle]] —
    * VERBATIM the one-shot `dedup_clusters` oracle (recursive-CTE
    * transitive closure over the full banded-LSH pair set), so a hash
    * match certifies maintained labels ≡ one-shot connected components,
    * min-id cluster ids included, with history never re-shingled
    * (pairs come from [[graft.operators.Dedup.incrementalCandidatePairs]]
    * and old connectivity rides in as star edges).
    */
  private val dupClustersStream = Q(
    "c24_stream_dup_clusters", LlmText.ccOracle) { (s, d) =>
    val docs = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val store = Q.foldedStore(s, d, "c24") { st =>
      val fold = StreamDedup.applyClusterBatch(st, "cc_bands", "cc_labels",
        "doc_id", "text", 16, 4, 3) _
      fold(docs.filter(col("doc_id") % 2 === 0), 0L)
      fold(docs.filter(col("doc_id") % 2 === 1), 1L)
    }
    // C1 guard: empty feed → no delta partitions ever land
    val labels =
      if (store.exists("cc_labels")) store.read("cc_labels")
        .groupBy(col("doc_id"))
        .agg(max_by(col("cluster"), col("__batch")).as("cluster"))
      else docs.limit(0).select(col("doc_id"), col("doc_id").as("cluster"))
    labels.select(col("doc_id"), col("cluster"))
  }

  private val semDedupStore = Q(
    "c21_stream_semdedup",
    """WITH emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |             FROM embeddings),
      |b AS (SELECT vec_id, v, vec_id % 3 AS bt FROM emb
      |      WHERE CAST(list_dot_product(v, v) AS DOUBLE) > 0),
      |cents AS (SELECT vec_id AS cid, v AS cv FROM
      |            (SELECT vec_id, v FROM b WHERE bt = 0 AND vec_id % 125 = 0
      |             ORDER BY vec_id LIMIT 65536)),
      |nc AS (SELECT cid, CAST(list_dot_product(cv, cv) AS DOUBLE) AS n2 FROM cents),
      |sim AS (SELECT b.vec_id, cents.cid,
      |               round(CAST(list_dot_product(b.v, cents.cv) AS DOUBLE)
      |                     / (sqrt(CAST(list_dot_product(b.v, b.v) AS DOUBLE)) * sqrt(nc.n2)), 12) AS cs
      |        FROM b CROSS JOIN cents JOIN nc ON nc.cid = cents.cid),
      |asg AS (SELECT vec_id, cid FROM (
      |          SELECT vec_id, cid,
      |                 row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS r
      |          FROM sim) WHERE r = 1),
      |drp AS (SELECT DISTINCT av.vec_id
      |        FROM asg av JOIN asg au ON au.cid = av.cid AND au.vec_id <> av.vec_id
      |        JOIN b bv ON bv.vec_id = av.vec_id
      |        JOIN b bu ON bu.vec_id = au.vec_id
      |        WHERE (bu.bt < bv.bt OR (bu.bt = bv.bt AND bu.vec_id < bv.vec_id))
      |          AND round(CAST(list_dot_product(bu.v, bv.v) AS DOUBLE)
      |                    / (sqrt(CAST(list_dot_product(bu.v, bu.v) AS DOUBLE))
      |                       * sqrt(CAST(list_dot_product(bv.v, bv.v) AS DOUBLE))), 12) >= 0.35)
      |SELECT asg.vec_id, CAST(asg.cid AS BIGINT) AS cid,
      |       CAST(CASE WHEN drp.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
      |FROM asg LEFT JOIN drp ON drp.vec_id = asg.vec_id""".stripMargin) { (s, d) =>
    val embD = Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
    val store = Q.foldedStore(s, d, "c21") { st =>
      // zero-norm seeds are excluded exactly as the maintainer excludes
      // zero-norm members (engine parity with the oracle's b CTE); the
      // 65536 cap bounds the broadcast frame at any corpus size
      val cents = Similarity.stridedSeeds(embD
          .filter(pmod(col("vec_id"), lit(3)) === 0)
          .filter(Similarity.dotNative(col("v"), col("v")) > 0d),
          "vec_id", 125, 65536)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val fold = StreamSemDedup.applyBatch(st, "members", cents, 0.35) _
      (0 to 2).foreach(i =>
        fold(embD.filter(pmod(col("vec_id"), lit(3)) === i), i.toLong))
    }
    // C1 guard: empty feed → no member partitions ever land
    val members =
      if (store.exists("members")) store.read("members")
      else embD.limit(0)
        .select(col("vec_id"), lit(0L).as("cid"), lit(0L).as("kept"))
    members.select(col("vec_id"), col("cid").cast(LongType).as("cid"), col("kept"))
  }

  /** Streaming HLL register maintenance ([[StreamSketch
    * .applyDailyRegisters]]): per-day distinct-user registers folded over
    * two user-parity batches into the persisted register store, read back
    * as the per-(day, register) MAX over batch partitions. The oracle
    * recomputes the registers one-shot (same md5 family as
    * `events_daily_distinct`) — a hash match certifies the HLL merge law
    * on the STORED registers: max-merging per-batch registers equals
    * sketching the whole corpus.
    */
  private val hllRegisters = Q(
    "c18_stream_hll_registers",
    """WITH ev AS (SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
      |                  user_id
      |           FROM events),
      |h AS (SELECT day, CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |      FROM ev),
      |r AS (SELECT day, h % 16 AS register, CAST(h // 16 AS BIGINT) AS w FROM h),
      |rho AS (SELECT day, register,
      |          CASE WHEN w = 0 THEN 57 ELSE strpos(lpad(bin(w), 56, '0'), '1') END AS rho
      |        FROM r)
      |SELECT day, CAST(register AS BIGINT) AS register,
      |       CAST(max(rho) AS BIGINT) AS m_rho
      |FROM rho GROUP BY 1, 2""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).select(col("ts"), col("user_id"))
    val store = Q.foldedStore(s, d, "c18") { st =>
      val fold = StreamSketch.applyDailyRegisters(st, "hllregs", b = 4) _
      (0 to 1).foreach(i =>
        fold(ev.filter(pmod(col("user_id"), lit(2)) === i), i.toLong))
    }
    // C1 guard: empty feed → no register partitions ever land
    val merged =
      if (store.exists("hllregs")) StreamSketch.mergedDailyRegisters(store, "hllregs")
      else ev.limit(0).select(col("ts").as("day"),
        lit(0L).as("register"), lit(0L).as("m_rho"))
    merged
      .select(col("day").cast("timestamp_ntz").as("day"),
        col("register"), col("m_rho"))
  }

  /** TRUE Structured Streaming as-of attribution ([[StreamAsOf
    * .attribute]] — flatMapGroupsWithState): the events corpus is
    * replayed as four file micro-batches (two time-ordered halves, then
    * two far-future sentinel clicks from a reserved user whose only job
    * is to push the watermark past every real event, so EVERY real
    * purchase is finalized before the AvailableNow run drains). The
    * readout is the memory-sink output minus the sentinel user; the
    * oracle is the batch as-of: each purchase's latest same-user click
    * at-or-before it. A hash match certifies the stateful operator's
    * event-time logic — dominant-click collapse, pending-purchase
    * buffering, watermark finality — against a closed-form recompute.
    */
  private val asofStream = Q(
    "c19_stream_asof",
    """WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS cts
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS pts
      |      FROM events WHERE event_type = 'purchase')
      |SELECT p.user_id, p.event_id, epoch_us(pts) AS ts_us,
      |       max(epoch_us(cts)) AS click_us
      |FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.cts <= p.pts
      |GROUP BY 1, 2, 3""".stripMargin) { (s, d) =>
    val evCols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val ev = Tables.events(s, d).select(evCols.map(col): _*)
    // one scan for both scalars the batching plan needs
    val statRow = ev.agg(
      expr("percentile(CAST(ts AS DOUBLE), 0.5)"),
      max(unix_micros(col("ts")))).head()
    // C1 guard: an empty feed has no median/max event time — nothing to
    // stream, present the attribution's (empty) shape directly
    if (statRow.isNullAt(0)) {
      ev.limit(0).select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        unix_micros(col("ts")).as("click_us"))
    } else {
    // The real flatMapGroupsWithState run happens once per (JVM, dir);
    // its finalized attribution — what the watermark made immutable —
    // persists as a table and every later execution reads it, the same
    // maintained-state contract as the applyBatch stores above.
    val store = Q.foldedStore(s, d, "c19") { st =>
      val dir = Files.createTempDirectory("graft_c19_in").toString
      val mid = statRow.getDouble(0)
      ev.filter(col("ts").cast("double") <= mid)
        .coalesce(1).write.mode("append").parquet(dir)
      ev.filter(col("ts").cast("double") > mid)
        .coalesce(1).write.mode("append").parquet(dir)
      // sentinel batches: the first one's watermark (computed from batch 2)
      // still trails the last 2 h of real events; the second runs WITH the
      // first sentinel's watermark (max + 10 d − 2 h), finalizing them all
      val maxUs = statRow.getLong(1)
      val dayUs = 86400000000L
      val sentinels = s.range(2).select(
        (-col("id") - 1).as("event_id"),
        timestamp_micros(lit(maxUs + 10 * dayUs) + col("id") * lit(3 * 3600000000L)).as("ts"),
        lit(-1L).as("user_id"),
        lit("click").as("event_type"),
        lit(0.0).as("value"),
        lit("").as("props"))
      (1 to 2).foreach(i => sentinels.filter(col("event_id") === -i)
        .coalesce(1).write.mode("append").parquet(dir))
      val sink = s"c19_asof_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      // The stateful operator's partition count is fixed at checkpoint
      // creation from the session's shuffle width — size it to STATE
      // volume, not to the batch session's scan width: per-key state here
      // is a handful of longs, so 32 state partitions mean 32 HDFS-backed
      // store commits (delta file + maintenance each) per micro-batch of
      // overhead. A dedicated session pins 8; at real scale this is the
      // knob an operator sizes to keys×state-bytes, independent of the
      // analytics session's width. Measured: the 4-batch AvailableNow run
      // drops ~3x (8.9 s → 3.0 s warm at sf0.1).
      val ss = s.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      val q = StreamAsOf.attribute(EventStream.readEventStream(ss, dir))
        .writeStream.outputMode("append").format("memory")
        .queryName(sink).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      st.overwrite("asof", ss.table(sink))
      // the micro-batch input files and the memory sink are scaffolding —
      // only the persisted attribution survives
      ss.catalog.dropTempView(sink)
      try {
        Files.walk(java.nio.file.Paths.get(dir))
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { try Files.delete(p) catch { case _: Throwable => () } })
      } catch { case _: Throwable => () }
    }
    store.read("asof").filter(col("user_id") >= 0)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("click_us"))
    }
  }

  /** Incrementally-maintained DSIR language-model store
    * ([[ViewMaintain.applyBatch]] over the hashed-unigram counts): the
    * per-bucket (corpus count, target count) state is folded from THREE
    * doc-key-split batches — the production shape, where the selection
    * LM accumulates as crawl batches arrive — and the readout scores the
    * corpus against the MAINTAINED counts exactly the way
    * `curation_dsir_weights` scores against its one-shot counts. The two
    * queries certify against ONE oracle string
    * ([[Curation.dsirOracleSql]]), so "maintained LM ≡ batch LM" is
    * driver-hash-checked, not asserted.
    */
  private val dsirStore = Q(
    "c20_stream_dsir_store", Curation.dsirOracleSql) { (s, d) =>
    val toks = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"),
        graft.operators.Sketches.featureBucket(col("tok"), 1024).as("bucket"),
        when(col("lang") === "en", 1L).otherwise(0L).as("is_t"))
    val store = Q.foldedStore(s, d, "c20") { st =>
      val fold = ViewMaintain.applyBatch(st, "dsirlm", Seq("bucket"),
        Seq("is_t"), nBuckets = 4) _
      // doc-key hash split, uncorrelated with lang and bucket
      fold(toks.filter(pmod(col("doc_id") * 7, lit(3)) === 0), 0L)
      fold(toks.filter(pmod(col("doc_id") * 7, lit(3)) > 0), 1L)
    }
    // C1 guard: empty feed → no stored state; fromBatch over zero rows
    // reproduces the state schema exactly
    val state =
      if (store.exists("dsirlm")) store.read("dsirlm").drop("__bucket", "__applied")
      else IncrementalAgg.fromBatch(toks.limit(0), Seq("bucket"), Seq("is_t"))
    val counts = state.select(col("bucket"),
      col("n").as("cnt_c"), col("sum_is_t").cast(LongType).as("cnt_t"))
    val totals = counts.agg(
      sum(col("cnt_c")).cast(LongType).as("n_c"),
      sum(col("cnt_t")).cast(LongType).as("n_t"))
    val ratios = counts.crossJoin(broadcast(totals))
      .select(col("bucket"),
        expr("""CAST((CAST(cnt_t + 1 AS DECIMAL(38,0)) * (n_c + 1024) * 1000000000000)
                div (CAST(cnt_c + 1 AS DECIMAL(38,0)) * (n_t + 1024)) AS BIGINT)""")
          .as("r_scaled"))
    toks.join(broadcast(ratios), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(lcount().as("n_toks"),
        // accumulate through DECIMAL(38,0): each ratio term is ~10^12-
        // scaled, so a LongType sum wraps silently (non-ANSI) past ~9.2M
        // tokens in one document — the oracle sums in HUGEINT (the
        // bigramScoreHeldout widen-before-accumulate pattern)
        sum(col("r_scaled").cast("decimal(38,0)")).cast(LongType)
          .as("imp_sum"))
  }

  /** Streaming KMV sketch maintenance ([[StreamSketch.applyKmvSketch]]):
    * per-language distinct-WORD bottom-128 sketches folded over the
    * documents corpus in three doc-key-hash batches (uncorrelated with
    * the language key, so every group's bottom-k straddles batches and
    * the merge law — not just append — is what's under test). The
    * readout is the merged store's per-group sketch summarized to
    * (ku, h_k) plus the textbook KMV cardinality estimate, with the
    * exact distinct count riding along as the error reference; the
    * oracle replays bottom-k + estimator one-shot over the whole corpus
    * from the same md5-derived 52-bit hashes, so the hash match
    * certifies the per-batch sketches, the bottom-k merge, and the
    * estimator arithmetic jointly. Small-group exactness: a group with
    * fewer than k distinct values has ku < k and the estimate IS ku.
    */
  private val kmvStore = Q(
    "c27_stream_kmv",
    """WITH w AS (SELECT lang,
      |             CAST(('0x' || substr(md5(tok), 1, 13)) AS BIGINT) AS h
      |           FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
      |                 FROM documents WHERE text IS NOT NULL)),
      |dd AS (SELECT DISTINCT lang, h FROM w),
      |r AS (SELECT lang, h,
      |        row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
      |      FROM dd),
      |sk AS (SELECT lang, CAST(count(*) AS BIGINT) AS ku,
      |              CAST(max(h) AS BIGINT) AS h_k
      |       FROM r WHERE rn <= 128 GROUP BY 1),
      |ex AS (SELECT lang, CAST(count(*) AS BIGINT) AS exact_distinct
      |       FROM dd GROUP BY 1)
      |SELECT sk.lang, ku, h_k,
      |       CASE WHEN ku < 128 THEN CAST(ku AS DOUBLE)
      |            ELSE CAST(127 AS DOUBLE) * 4503599627370496.0
      |                   / CAST(h_k AS DOUBLE) END AS est_distinct,
      |       exact_distinct
      |FROM sk JOIN ex ON sk.lang = ex.lang""".stripMargin) { (s, d) =>
    val k = 128
    val toks = Tables.spread(Tables.documents(s, d))
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), col("lang"),
        Sketches.hash52(col("tok")).as("h"))
    val store = Q.foldedStore(s, d, "c27") { st =>
      val fold = StreamSketch.applyKmvSketch(st, "kmv", "lang", "h", k) _
      fold(toks.filter(pmod(col("doc_id") * 7, lit(3)) === 0), 0L)
      fold(toks.filter(pmod(col("doc_id") * 7, lit(3)) > 0), 1L)
    }
    // C1 guard: empty feed → no sketch partitions ever land
    val merged =
      if (store.exists("kmv")) StreamSketch.mergedKmvSketch(store, "kmv", "lang", "h", k)
      else toks.limit(0).groupBy(col("lang"))
        .agg(call_function("kmv_sketch", col("h"), lit(k)).as("sk"))
    // exact distinct reference: one shuffle on (lang, h)
    val exact = toks.groupBy(col("lang"))
      .agg(countDistinct(col("h")).cast(LongType).as("exact_distinct"))
    merged
      .withColumn("ku", size(col("sk")).cast(LongType))
      .withColumn("h_k", element_at(col("sk"), size(col("sk"))))
      .withColumn("est_distinct",
        when(col("ku") < k, col("ku").cast(DoubleType))
          .otherwise(lit(127.0) * lit(4503599627370496.0)
            / col("h_k").cast(DoubleType)))
      .join(exact, Seq("lang"))
      .select(col("lang"), col("ku"), col("h_k"), col("est_distinct"),
        col("exact_distinct"))
  }

  /** Streaming skyline maintenance ([[StreamSkyline.applyBatch]]): the
    * (order date, exact-decimal total) Pareto front — "the record-
    * setting orders so far" — folded over three order-key-hash batches
    * (uncorrelated with both axes, so front points straddle batches and
    * dominated points arrive both before AND after their dominators).
    * Each fold sweeps only front(stored front ∪ batch); the readout is
    * the partition at the applied watermark; the oracle is the textbook
    * brute-force dominance test over the whole corpus — the hash match
    * certifies the merge law front(A∪B) = front(front(A)∪front(B))
    * as executed, not just stated.
    */
  private val paretoStream = Q(
    "c28_stream_pareto",
    """WITH pts AS (SELECT DISTINCT o_orderdate AS d,
      |                    CAST(o_totalprice AS DECIMAL(18,4)) AS spend
      |             FROM orders)
      |SELECT d, CAST(spend AS DOUBLE) AS spend
      |FROM pts p
      |WHERE NOT EXISTS (SELECT 1 FROM pts q
      |                  WHERE q.d >= p.d AND q.spend >= p.spend
      |                    AND (q.d > p.d OR q.spend > p.spend))""".stripMargin) {
    (s, d) =>
    val pts = Tables.orders(s, d).select(
      col("o_orderdate").as("d"),
      col("o_totalprice")
        .cast(org.apache.spark.sql.types.DecimalType(18, 4)).as("spend"),
      col("o_orderkey"))
    val store = Q.foldedStore(s, d, "c28") { st =>
      val fold = StreamSkyline.applyBatch(st, "front", "d", "spend") _
      fold(pts.filter(pmod(col("o_orderkey"), lit(3)) === 0), 0L)
      fold(pts.filter(pmod(col("o_orderkey"), lit(3)) > 0), 1L)
    }
    // C1 guard: empty feed → no front partition ever lands
    val front =
      if (store.exists("front")) StreamSkyline.currentFront(store, "front")
      else pts.select(col("d"), col("spend")).limit(0)
    front.select(col("d"), col("spend").cast(DoubleType).as("spend"))
  }

  /** Streaming AUC monitor ([[StreamSketch.applyScoreCounts]]): the
    * per-score two-class count store — AUC's mergeable sufficient
    * statistic — folded over two doc-key-hash batches, read out
    * through the SAME lattice tail as the one-shot `ml_auc` and
    * certified by the SAME oracle string, so "maintained monitor ≡
    * one-shot AUC" is true by construction (the bm25/dsir shared-oracle
    * pattern). The model-quality gate that runs forever on a stream
    * with score-domain-bounded state.
    */
  private val aucStream = Q(
    "c29_stream_auc", MlQueries.aucOracleSql) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars").as("score"),
        (col("lang") === "en").as("is_en"))
    val store = Q.foldedStore(s, d, "c29") { st =>
      val fold = StreamSketch.applyScoreCounts(st, "auc", "score", "is_en") _
      fold(docs.filter(pmod(col("doc_id") * 7, lit(3)) === 0), 0L)
      fold(docs.filter(pmod(col("doc_id") * 7, lit(3)) > 0), 1L)
    }
    // C1 guard: empty feed → no count partitions ever land
    val merged =
      if (store.exists("auc")) StreamSketch.mergedScoreCounts(store, "auc")
      else graft.operators.Stats.scoreClassCounts(
        docs.limit(0), col("score"), col("is_en"))
    graft.operators.Stats.aucFromCounts(merged)
  }

  /** Streaming first-touch funnel ([[StreamFunnel.applyStageMins]]):
    * per-(user, stage) first-occurrence timestamps folded over two
    * user-hash batches (the MIN merge law — the timestamp twin of the
    * HLL register fold), read out through the SAME ordered-funnel
    * aggregate as the one-shot `events_funnel` and certified by the
    * SAME oracle string — maintained store ≡ one-shot funnel by
    * construction. State is users × stages, not event volume.
    */
  private val funnelStream = Q(
    "c30_stream_funnel", Relational.funnelOracleSql) { (s, d) =>
    val ev = Tables.events(s, d)
    val store = Q.foldedStore(s, d, "c30") { st =>
      val fold = StreamFunnel.applyStageMins(
        st, "funnel", "user_id", "event_type", "ts") _
      // split on the EVENT id, not the user: a user's stage events land in
      // different batches, so the oracle match certifies the cross-batch
      // per-(user, stage) MIN merge, not just per-batch aggregation;
      // coalesce keeps null-id rows in a batch — the one-shot counts their
      // users in n_users
      fold(ev.filter(pmod(coalesce(col("event_id"), lit(-1L)), lit(3)) === 0), 0L)
      fold(ev.filter(pmod(coalesce(col("event_id"), lit(-1L)), lit(3)) > 0), 1L)
    }
    // C1 guard: empty feed → no mins partition ever lands
    val mins =
      if (store.exists("funnel"))
        StreamFunnel.mergedStageMins(store, "funnel", "user_id", "event_type")
      else StreamFunnel.stageMins(ev.limit(0), "user_id", "event_type", "ts")
    StreamFunnel.funnelReadout(mins, "user_id", "event_type")
  }

  /** Streaming decision-stump tuner ([[StreamSketch.applyScoreCounts]]):
    * the SAME per-score two-class count store as `c29_stream_auc` — the
    * stump's sufficient statistic is identical — folded over two
    * doc-key-hash batches, read out through the SAME exact-Gini lattice
    * as the one-shot `ml_stump_gini` and certified by the SAME oracle
    * string, so "maintained threshold tuner ≡ one-shot split picker" is
    * true by construction. The always-current operating threshold a
    * serving pipeline re-reads after every micro-batch, with
    * score-domain-bounded state.
    */
  private val stumpStream = Q(
    "c31_stream_stump", MlQueries.stumpOracleSql) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars").as("score"),
        (col("lang") === "en").as("is_en"))
    val store = Q.foldedStore(s, d, "c31") { st =>
      val fold = StreamSketch.applyScoreCounts(st, "stump", "score", "is_en") _
      // split on a different doc-key hash than c29 so the two shared-store
      // maintainers certify distinct batch partitions of the same corpus
      fold(docs.filter(pmod(col("doc_id") * 11, lit(3)) === 0), 0L)
      fold(docs.filter(pmod(col("doc_id") * 11, lit(3)) > 0), 1L)
    }
    // C1 guard: empty feed → no count partitions ever land
    val merged =
      if (store.exists("stump")) StreamSketch.mergedScoreCounts(store, "stump")
      else graft.operators.Stats.scoreClassCounts(
        docs.limit(0), col("score"), col("is_en"))
    graft.operators.Stats.giniStump(merged)
  }

  /** Streaming reliability monitor ([[StreamSketch.applyCalibBins]]):
    * per-decile (count, positives, scaled-probability-sum) triples —
    * calibration's SUM-mergeable sufficient statistic, ≤ 11 rows per
    * batch — folded over two doc-key-hash batches, read out through
    * the SAME pinned divisions as the one-shot `ml_calibration` and
    * certified by the SAME oracle string: maintained honesty monitor ≡
    * one-shot reliability diagram by construction.
    */
  private val calibStream = Q(
    "c32_stream_calibration", MlQueries.calibOracleSql) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), (col("lang") === "en").as("is_en"))
    val store = Q.foldedStore(s, d, "c32") { st =>
      val fold = StreamSketch.applyCalibBins(st, "calib", "n_chars", "is_en") _
      fold(docs.filter(pmod(col("doc_id") * 13, lit(3)) === 0), 0L)
      fold(docs.filter(pmod(col("doc_id") * 13, lit(3)) > 0), 1L)
    }
    // C1 guard: empty feed → no bin partitions ever land
    val merged =
      if (store.exists("calib")) StreamSketch.mergedCalibBins(store, "calib")
      else graft.operators.Stats.calibrationBins(
        docs.limit(0), col("n_chars"), col("is_en"))
    graft.operators.Stats.calibrationReadout(merged)
  }

  /** Streaming Markov next-page model ([[StreamMarkov.applyBatch]]):
    * per-(src, dst) transition counts maintained from time-contiguous
    * event batches — batch-internal lag pairs plus one STITCH pair per
    * (user, batch) from the stored per-user last event, the
    * order-sensitive fold no per-key-hash split can express — read out
    * through the SAME model tail as the one-shot `events_markov_next`
    * and certified by the SAME oracle string. Batches split at day
    * boundaries (the maintainer's in-order contract; equal-(ts,
    * event_id) rows can never straddle a day edge), so the oracle match
    * certifies the cross-batch stitching, not just per-batch windows.
    */
  /** The ONE maintained Markov transition store both `c33` and `c36`
    * read: the same page-event feed, day-split, and fold — the c36
    * scaladoc's "fold the stream once, answer every graph question from
    * the maintained edge multiset" made literal. Folds run once per
    * (JVM, dir); both readouts are pure store reads.
    */
  private def markovStore(s: org.apache.spark.sql.SparkSession, d: String) =
    Q.foldedStore(s, d, "c33_markov") { st =>
      val ev = Relational.pageEvents(s, d)
      val fold = StreamMarkov.applyBatch(st, "mcnt", "mlast",
        "user_id", "ts", "event_id", "k") _
      // driver-side day list is calendar-bounded, not data-sized
      // null-ts rows coalesce to a sentinel day BEFORE any real day — the
      // range predicates below are all false on NULL, which would silently
      // drop those rows from every batch while the one-shot window (nulls
      // first under ORDER BY ts) keeps them; routing them whole into batch
      // 0 preserves maintained ≡ one-shot on such feeds
      val day = coalesce(to_date(col("ts")),
        lit(java.sql.Date.valueOf("0001-01-01")))
      val days = ev.select(day.as("day")).distinct()
        .orderBy(col("day")).collect().map(_.getDate(0))
      if (days.nonEmpty) {
        val d1 = days(days.length / 2)
        fold(ev.filter(day < lit(d1)), 0L)
        fold(ev.filter(day >= lit(d1)), 1L)
      }
    }

  private val markovStream = Q(
    "c33_stream_markov", Relational.markovOracleSql) { (s, d) =>
    val store = markovStore(s, d)
    val ev = Relational.pageEvents(s, d)
    // C1 guard: empty feed → no count partitions ever land
    val counts =
      if (store.exists("mcnt")) StreamMarkov.mergedCounts(store, "mcnt", "mlast")
      else ev.limit(0)
        .select(col("k").as("src"), col("k").as("dst"), lit(0L).as("n"))
    Relational.markovFromCounts(counts)
  }

  /** Streaming feed-shift monitor ([[StreamSketch.applyTimeCounts]]):
    * per-hour event counts — CUSUM's SUM-mergeable sufficient
    * statistic — folded over two event-key-hash batches (the count
    * fold is order-free, unlike `c33`'s lag stitch), read out through
    * the SAME exact lattice as the one-shot `events_changepoint` and
    * certified by the SAME oracle string: the always-current "when did
    * volume shift" answer with time-domain-bounded state.
    */
  private val changepointStream = Q(
    "c34_stream_changepoint", Relational.changepointOracleSql) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("h"),
        col("event_id"))
    val store = Q.foldedStore(s, d, "c34") { st =>
      val fold = StreamSketch.applyTimeCounts(st, "cp", "h") _
      fold(ev.filter(pmod(coalesce(col("event_id"), lit(-1L)), lit(3)) === 0), 0L)
      fold(ev.filter(pmod(coalesce(col("event_id"), lit(-1L)), lit(3)) > 0), 1L)
    }
    // C1 guard: empty feed → no count partitions ever land
    val merged =
      if (store.exists("cp")) StreamSketch.mergedTimeCounts(store, "cp")
      else graft.operators.Stats.perTimeCounts(ev.limit(0), col("h"))
    graft.operators.Stats.cusumFromCounts(merged)
  }

  /** Streaming recommender index ([[StreamItemCf.applyBatch]]):
    * per-(item, item) basket co-occurrence and per-item basket counts
    * maintained from basket-whole batches (split on the ORDER key — the
    * commit grain of an order feed — so a basket's pair set is complete
    * inside its batch and both statistics fold by SUM), read out through
    * the SAME cosine-lattice top-3 tail as the one-shot
    * `dm_item_cf_topk` and certified by the SAME oracle string:
    * maintained "also bought" index ≡ one-shot by construction.
    */
  private val itemCfStream = Q(
    "c35_stream_itemcf", DmQueries.itemCfOracleSql) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val store = Q.foldedStore(s, d, "c35") { st =>
      val fold = StreamItemCf.applyBatch(st, "cfp", "cfi",
        "l_orderkey", "l_partkey") _
      // two basket-whole batches (was three, r18): the oracle certifies the
      // FINAL merged index, which is split-count-invariant (pair and item
      // counts are SUM-linear over whole baskets), while each extra fold
      // re-pays the full per-batch job set; StreamItemCfSpec keeps the
      // 3-batch / arrival-order / crash coverage
      (0 to 1).foreach(i =>
        fold(li.filter(pmod(coalesce(col("l_orderkey"), lit(-1L)), lit(2)) === i),
          i.toLong))
    }
    // C1 guard: empty feed → no store partitions ever land
    val inc0 = StreamItemCf.basketIncidence(
      li.limit(0), "l_orderkey", "l_partkey")
    val (pairs, items) =
      if (store.exists("cfi"))
        (StreamItemCf.mergedPairCounts(store, "cfp", "cfi"),
          StreamItemCf.mergedItemCounts(store, "cfi"))
      else
        (StreamItemCf.basketPairCounts(inc0),
          StreamItemCf.itemBasketCounts(inc0))
    DmQueries.itemCfTopK(pairs, items)
  }

  /** Stream-maintained graph analytics ([[StreamMarkov]] store →
    * [[graft.operators.Triangles.degreeAssortativity]]): the maintained
    * per-(src, dst) transition counts ARE the page graph — any graph
    * analytic is a pure readout of the store, certified here by the
    * SAME oracle string as the one-shot `events_assortativity`. The
    * pattern a 100 TB pipeline wants: fold the stream once, answer
    * every graph question from the maintained edge multiset without
    * re-deriving transitions from raw events.
    */
  private val assortStream = Q(
    "c36_stream_assortativity", Relational.assortativityOracleSql) { (s, d) =>
    val store = markovStore(s, d)
    val ev = Relational.pageEvents(s, d)
    // C1 guard: empty feed → no count partitions ever land
    val edges =
      if (store.exists("mcnt"))
        StreamMarkov.mergedCounts(store, "mcnt", "mlast")
          .select(col("src"), col("dst"))
      else ev.limit(0).select(col("k").as("src"), col("k").as("dst"))
    graft.operators.Triangles.degreeAssortativity(edges)
  }

  val queries: Seq[Q] = Seq(cdcMirror, viewAgg, nearDupLog, substringStore,
    annLog, hllRegisters, asofStream, dsirStore, semDedupStore,
    prefixJaccardStream, editPairsStream, dupClustersStream, hammingStream,
    bm25Index, kmvStore, paretoStream, aucStream, funnelStream, stumpStream,
    calibStream, markovStream, changepointStream, itemCfStream, assortStream)
}
