package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Pin}
import graft.sources.TableStore

/** Streaming deduplication at ingest.
  *
  * Exact: the streaming face of [[graft.operators.Dedup.exactGroups]]
  * (same md5-fingerprint family). State is keyed by fingerprint and
  * evicted once the watermark passes `horizon` beyond a key's first
  * arrival (`dropDuplicatesWithinWatermark`), so memory is bounded by the
  * dedup horizon × ingest rate, not by corpus size. A duplicate arriving
  * after the horizon re-emits — the standard bounded-state tradeoff;
  * exact global dedup stays a batch job ([[graft.operators.Dedup]]).
  *
  * Near-dup: [[applyBatch]], run from a document stream with
  * [[Maintain]], keeps the MinHash-LSH band-key store current and emits
  * each micro-batch's candidate near-dup pairs against everything seen
  * so far — online what
  * [[graft.operators.Dedup.incrementalCandidatePairs]] is per batch.
  */
object StreamDedup {

  /** Fingerprint the payload and keep the first arrival per fingerprint
    * within the watermark horizon. Works on a watermark-able stream;
    * `tsCol` is the event-time column the watermark advances on.
    */
  def dedupStream(docs: DataFrame, tsCol: String, textCol: String,
      horizon: String): DataFrame =
    docs
      .withColumn("fp", md5(col(textCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("fp")

  /** The per-batch substring fold, run from a document stream with
    * [[Maintain]]: maintains the SUBSTRING-dedup span-count store +
    * duplicated-span log — the streaming face of
    * [[graft.operators.Dedup.incrementalDuplicatedSpans]], sharing the
    * band store's layout discipline: each micro-batch windows ONLY its
    * own documents (history text is never re-windowed), joins its span
    * counts against the aggregated store, logs the spans duplicated
    * corpus-wide that involve this batch (`span_h, n_occ, n_new` —
    * including new-vs-new duplication), and appends the batch's counts
    * as ONE store partition. Write volume per batch is O(batch); the
    * store is a per-batch count log whose per-span SUM is the corpus
    * count.
    *
    * Replay safety mirrors [[applyBatch]]: the fold runs under
    * [[Maintain.once]], both partitions replay by replacement, and folds
    * recover parked partitions before reading.
    */
  def applySubstringBatch(store: TableStore, spanTable: String,
      dupTable: String, idCol: String, textCol: String, l: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    Maintain.once(store, spanTable, batchId) { committed =>
      // window once; the occurrences feed the dup join AND the count store
      val newOcc = Pin(Dedup.spanOccurrences(batch, idCol, textCol, l))
      val oldCounts = Maintain.history(store, spanTable, committed,
          Dedup.spanCountStoreFromOcc(newOcc))
        .groupBy(col("span_h"))
        .agg(sum(col("n_old")).cast("long").as("n_old"))
      val dups = Dedup.incrementalDuplicatedSpans(oldCounts, newOcc)
        .withColumn("__batch", lit(batchId))
      store.replacePartitions(dupTable, dups, "__batch")
      store.replacePartitions(spanTable,
        Dedup.spanCountStoreFromOcc(newOcc).withColumn("__applied", lit(batchId)),
        "__applied")
    }
  }

  /** The per-batch PPJoin fold, run from a document stream with
    * [[Maintain]]: maintains the EXACT prefix-Jaccard stores — the
    * deterministic-dedup counterpart of [[applyBatch]]'s probabilistic
    * LSH: each micro-batch emits every Jaccard-≥-t pair it completes
    * (new×history and new×new), with EXACT similarity values, and the
    * union over batches equals the one-shot
    * [[graft.operators.Dedup.prefixJaccardPairs]] answer.
    *
    * The incremental trick is the prefix ORDER: the one-shot operator
    * ranks shingles by corpus rarity, but document frequencies drift as
    * the corpus grows — a df-ordered store would re-rank every stored
    * document per batch. Prefixes here use the FIXED (xxhash64, shingle)
    * order ([[graft.operators.Dedup.prefixRankedStable]]), under which a
    * document's prefix is immutable on arrival; PPJoin's pruning is
    * exact under ANY total order (witness argument — see
    * [[graft.operators.Dedup.ppjoinCandidates]]).
    *
    * Per batch: shingle + prefix-rank ONLY the batch (history is never
    * re-shingled); candidates = batch-probe ⋈ (store ∪ batch)-index
    * UNION store-probe ⋈ batch-index (both directions, because the
    * probe must be the ≥-sized side and a new doc can be smaller than
    * its historical partner — each direction broadcasts the batch-sized
    * side); verify exactly against the shingle store semi-joined to
    * candidate docs. Writes are O(batch), one partition per store, and
    * a replay replaces them, never doubles — same replay contract as
    * [[applyBatch]].
    */
  def applyPrefixBatch(store: TableStore, shTable: String,
      prefixTable: String, pairsTable: String, idCol: String,
      textCol: String, threshold: BigDecimal, shingleN: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    Maintain.once(store, prefixTable, batchId) { committed =>
      // shingle + rank ONCE per batch; both feed joins and the stores
      val newSh = Pin(Dedup.shingleSet(batch, idCol, textCol, shingleN))
      val newRanked = Pin(Dedup.prefixRankedStable(newSh, idCol, threshold))
      val oldRanked = Maintain.history(store, prefixTable, committed, newRanked)
      val oldSh = Maintain.history(store, shTable, committed, newSh)
      // every pair involving a batch doc, exactly once: old×old pairs
      // were emitted by earlier folds and never regenerate (direction 2's
      // probe side is history-only, so each candidate there pairs an old
      // probe with a NEW index doc)
      val cands = Dedup.ppjoinCandidates(
          Dedup.ppjoinProbe(newRanked, idCol),
          Dedup.ppjoinIndex(oldRanked.unionByName(newRanked), idCol, threshold),
          threshold)
        .unionByName(Dedup.ppjoinCandidates(
          Dedup.ppjoinProbe(oldRanked, idCol),
          Dedup.ppjoinIndex(newRanked, idCol, threshold), threshold))
        .distinct()
      val pairs = Dedup.jaccardForPairsAtLeast(
          oldSh.unionByName(newSh), idCol, cands, threshold.toDouble)
        .withColumn("__batch", lit(batchId))
      store.replacePartitions(pairsTable, pairs, "__batch")
      store.replacePartitions(shTable,
        newSh.withColumn("__applied", lit(batchId)), "__applied")
      store.replacePartitions(prefixTable,
        newRanked.withColumn("__applied", lit(batchId)), "__applied")
    }
  }

  /** The per-batch PassJoin fold, run from a document stream with
    * [[Maintain]]: maintains the EXACT edit-distance stores — the
    * streaming face of [[graft.operators.Dedup.editDistancePairs]]: each
    * micro-batch emits every ED-≤-d pair it completes (new×history and
    * new×new, with exact distances), and the union over batches equals
    * the one-shot answer.
    *
    * Unlike the PPJoin maintainer there is no ordering to freeze: the
    * PassJoin segment key (length, segment index, segment text) is
    * derived from the value alone, so a stored segment is immutable by
    * construction and history is never re-segmented. One candidate
    * direction also suffices — ED is symmetric, so the pigeonhole
    * witness exists in BOTH orientations (some segment of b appears
    * verbatim in a AND vice versa), and probe(batch) ⋈ segments(history
    * ∪ batch) covers every pair with a batch-side member. (PPJoin needs
    * both directions only because its prefixes are size-asymmetric.)
    *
    * Segments are stored at VALUE grain and only for values never seen
    * before, so exact-duplicate re-arrivals append nothing; doc pairs
    * re-expand from the verified value pairs against the doc store with
    * an at-least-one-new guard, which makes each doc pair land exactly
    * once — in the batch where its LATER member arrives. Doc ids are
    * assumed unique across batches (same contract as the near-dup and
    * PPJoin maintainers); a re-ingested id needs the batch rebuild.
    *
    * Writes are O(batch): the pair log, the new-value segment partition
    * and the doc partition, each replaced (never doubled) by a replay
    * under [[Maintain.once]]. Hot-segment refinement is
    * intentionally absent at stream grain — per-batch bucket population
    * is (batch probes) × (stored segments in bucket), linear in the
    * store per batch; adversarial constant-prefix corpora should use the
    * one-shot rebuild (same exposure as the LSH band maintainer's hot
    * bands).
    */
  def applyEditBatch(store: TableStore, strTable: String, segTable: String,
      pairsTable: String, idCol: String, strCol: String, maxDist: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    val d = maxDist
    require(d >= 1, s"maxDist must be >= 1, got $d")
    Maintain.once(store, strTable, batchId) { committed =>
      val newDocs = Pin(batch
        .select(col(idCol).as("__id"), col(strCol).as("__s")))
      val oldDocs = Maintain.history(store, strTable, committed, newDocs)
      val batchBase = Pin(Dedup.editBase(newDocs.select(col("__s"))))
      val oldVals = oldDocs.select(col("__s")).distinct()
      val oldBase = oldVals.select(col("__s"), length(col("__s")).as("__len"))
      // segment only the truly-new values: the segment key is value-
      // derived and immutable, so history is never re-segmented and a
      // value re-arriving under a new doc id appends nothing
      val freshBase = batchBase.join(oldVals, Seq("__s"), "left_anti")
      val newSegs = Pin(Dedup.editSegs(freshBase, d))
      val oldSegs = Maintain.history(store, segTable, committed, newSegs)
      val allSegs = oldSegs.unionByName(newSegs)
      val longCand = Dedup.editProbes(batchBase, d).as("p")
        .join(allSegs.as("g"), col("p.kk") === col("g.kk"))
        .select(col("p.__s").as("ia"), col("g.__s").as("ib"))
      // short values (length ≤ d) have no segments; they bucket by
      // length against partners of length ≤ 2d — both directions,
      // because THIS join is role-asymmetric (the short side keys on
      // its own length)
      val allBase = oldBase.unionByName(freshBase)
      def shortCand(shortSide: DataFrame, partnerSide: DataFrame) =
        shortSide.filter(col("__len") <= d)
          .select(col("__s").as("ia"), col("__len").as("kb"))
          .join(partnerSide.filter(col("__len") <= 2 * d)
            .select(col("__s").as("ib"),
              explode(sequence(greatest(lit(0), col("__len") - d), lit(d)))
                .as("kb")), Seq("kb"))
          .select(col("ia"), col("ib"))
      val cands = longCand
        .unionByName(shortCand(batchBase, allBase))
        .unionByName(shortCand(allBase, batchBase))
        .filter(col("ia") =!= col("ib"))
        .select(least(col("ia"), col("ib")).as("va"),
          greatest(col("ia"), col("ib")).as("vb"))
        .distinct()
      // threshold'd verify — banded DP, early abort past d (same shape
      // as the one-shot's verify; kept values are exact)
      val vp = cands
        .withColumn("dist", levenshtein(col("va"), col("vb"), d))
        .filter(col("dist") >= 0)
      // doc expansion, exactly once per unordered pair: va ≠ vb makes
      // each (doc of va, doc of vb) combination appear in exactly one
      // vp row, and the at-least-one-new guard drops combinations
      // earlier batches already emitted
      val allDocs = oldDocs.withColumn("__new", lit(false))
        .unionByName(newDocs.withColumn("__new", lit(true)))
      val xa = allDocs.select(col("__id").as("ida"), col("__s").as("va"),
        col("__new").as("na"))
      val xb = allDocs.select(col("__id").as("idb"), col("__s").as("vb"),
        col("__new").as("nb"))
      val crossPairs = vp.join(xa, Seq("va")).join(xb, Seq("vb"))
        .filter(col("na") || col("nb"))
        .select(least(col("ida"), col("idb")).as("id_a"),
          greatest(col("ida"), col("idb")).as("id_b"), col("dist"))
      // identical-value doc pairs (dist 0): new×old once by fixing the
      // new side; new×new once via the id order guard
      val samePairs = newDocs.select(col("__id").as("ida"), col("__s"))
        .join(allDocs.select(col("__id").as("idb"), col("__s"),
          col("__new").as("nb")), Seq("__s"))
        .filter(col("ida") =!= col("idb"))
        .filter(!col("nb") || col("ida") < col("idb"))
        .select(least(col("ida"), col("idb")).as("id_a"),
          greatest(col("ida"), col("idb")).as("id_b"),
          lit(0).cast("int").as("dist"))
      val pairs = crossPairs.unionByName(samePairs)
        .withColumn("__batch", lit(batchId))
      store.replacePartitions(pairsTable, pairs, "__batch")
      store.replacePartitions(segTable,
        newSegs.withColumn("__applied", lit(batchId)), "__applied")
      store.replacePartitions(strTable,
        newDocs.withColumn("__applied", lit(batchId)), "__applied")
    }
  }

  /** The per-batch SimHash fold, run from a document stream with
    * [[Maintain]]: maintains the EXACT Hamming-≤d SimHash stores — the
    * streaming face of [[graft.operators.Dedup.simhashHammingPairsFromSig]]:
    * each micro-batch SimHashes ONLY its own documents (the token-hash
    * aggregate is the expensive stage; stored 32-bit signatures re-chunk
    * for free, map-side), joins its pigeonhole chunks against the signature
    * store's, and emits every Hamming-≤-d pair it completes with exact
    * distances — the union over batches equals the one-shot answer.
    *
    * One candidate direction suffices (simplest of the exact family):
    * the pigeonhole witness is a chunk BOTH sides carry verbatim, so
    * probe(batch) ⋈ chunks(history ∪ batch) covers every pair with a
    * batch-side member. Writes are O(batch): the pair log and the
    * one-row-per-doc signature partition, each replaced (never doubled)
    * by a replay under [[Maintain.once]]. Doc ids unique across batches
    * (same contract as the other maintainers). Hot chunk buckets cost (batch
    * docs in bucket) × (stored docs in bucket) per batch — linear in
    * the store, the family's documented adversarial exposure.
    */
  def applyHammingBatch(store: TableStore, sigTable: String,
      pairsTable: String, idCol: String, textCol: String, maxDist: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    val d = maxDist
    Maintain.once(store, sigTable, batchId) { committed =>
      // only the batch is token-hashed; one row per doc
      val newSig = Pin(Dedup.simhashPortable(batch, idCol, textCol))
      val oldSig = Maintain.history(store, sigTable, committed, newSig)
      val probe = Dedup.simhashChunks(newSig, idCol, d)
        .select(col("chunk"), col("chunk_val"),
          col("id").as("new_id"), col("h").as("h_new"))
      val index = Dedup.simhashChunks(oldSig.unionByName(newSig), idCol, d)
        .select(col("chunk"), col("chunk_val"),
          col("id").as("other_id"), col("h").as("h_other"))
      val pairs = probe.join(index, Seq("chunk", "chunk_val"))
        .filter(col("new_id") =!= col("other_id"))
        .select(
          least(col("new_id"), col("other_id")).as("doc_a"),
          greatest(col("new_id"), col("other_id")).as("doc_b"),
          bit_count(col("h_new").bitwiseXOR(col("h_other"))).as("hamming"))
        .filter(col("hamming") <= d)
        .distinct()
        .withColumn("__batch", lit(batchId))
      store.replacePartitions(pairsTable, pairs, "__batch")
      store.replacePartitions(sigTable,
        newSig.withColumn("__applied", lit(batchId)), "__applied")
    }
  }

  /** The per-batch cluster fold, run from a document stream with
    * [[Maintain]]: maintains duplicate-CLUSTER labels — the streaming
    * face of the `dedup_clusters_incremental` fold
    * ([[graft.operators.Dedup.mergeClusters]]): each micro-batch
    * shingles ONLY its own documents, generates its candidate pairs
    * against the band store, and folds them into the maintained
    * labeling. The old labeling is itself a star graph that preserves
    * old connectivity exactly, so the readout always equals one-shot
    * clustering of the full corpus — including the min-id cluster ids.
    *
    * Labels can't be partition-appended naively: a new edge can merge
    * two old components and RELABEL history. The store therefore holds
    * label DELTAS — per batch, only the docs newly labeled or relabeled
    * land (write volume O(Δ), bounded by the size of the components the
    * batch touched, not O(state)); a doc's current label is its
    * latest-batch delta row (`max_by(cluster, __batch)`), and docs in no
    * pair never appear, matching [[graft.operators.Dedup.dupClusters]].
    *
    * Replay: the fold runs under [[Maintain.once]] and both partitions
    * replay by replacement — same replay contract as [[applyBatch]].
    */
  def applyClusterBatch(store: TableStore, bandTable: String,
      labelTable: String, idCol: String, textCol: String, numHashes: Int,
      rowsPerBand: Int, shingleN: Int)(
      batch: DataFrame, batchId: Long): Unit = {
    Maintain.once(store, bandTable, batchId) { committed =>
      val batchBands = Dedup.bandKeysFromWide(
        Dedup.minhashWide(
          batch.select(col(idCol),
            explode(graft.functions.TextAnalysis.shingles(col(textCol), shingleN))
              .as("shingle")),
          idCol, numHashes),
        idCol, numHashes, rowsPerBand)
      val oldBands = Maintain.history(store, bandTable, committed, batchBands)
      val newBands = Pin(batchBands
        .join(oldBands, Seq(idCol, "band", "band_key"), "left_anti"))
      // current labeling = latest delta per doc; a crashed attempt of
      // THIS batch may have landed its delta partition — exclude it, the
      // refold replaces it
      val oldLabels =
        if (store.exists(labelTable))
          store.read(labelTable)
            .filter(col("__batch") <= committed)
            .groupBy(col(idCol))
            .agg(max_by(col("cluster"), col("__batch")).as("cluster"))
            .withColumnRenamed(idCol, "doc_id")
        else batch.limit(0)
          .select(col(idCol).as("doc_id"), col(idCol).as("cluster"))
      val newPairs = Dedup.incrementalCandidatePairs(
        oldBands.unionByName(newBands), newBands, idCol)
      val merged = Dedup.mergeClusters(oldLabels, newPairs)
      // O(Δ) delta: only docs newly labeled or relabeled land — an
      // unchanged (doc, cluster) row is anti-joined away
      val delta = merged
        .join(oldLabels, Seq("doc_id", "cluster"), "left_anti")
        .withColumnRenamed("doc_id", idCol)
        .withColumn("__batch", lit(batchId))
      store.replacePartitions(labelTable, delta, "__batch")
      store.replacePartitions(bandTable,
        newBands.withColumn("__applied", lit(batchId)), "__applied")
    }
  }

  /** The per-batch near-dup fold, run from a document stream with
    * [[Maintain]]: each micro-batch shingles ONLY its own documents,
    * joins its band keys against the store (history is never
    * re-shingled — the
    * [[graft.operators.Dedup.incrementalCandidatePairs]] contract), logs
    * the new candidate pairs, and APPENDS the batch's band keys as one
    * store partition (write volume O(batch), not O(state) — see
    * below). Union over all batches of the emitted pairs equals
    * the one-shot corpus pair set (StreamNearDupSpec asserts it) — so a
    * downstream clustering job always sees complete candidate edges no
    * matter how the corpus was batched.
    *
    * Both stores are PARTITION-APPENDED, never rewritten: the band store
    * is partitioned by `__applied` (the batch id that contributed the
    * keys) and the pair log by `__batch`, and each fold lands exactly its
    * own batch's partition through [[TableStore.replacePartitions]] — so
    * the per-batch write volume is O(batch), not O(state), and a 100 TB
    * band store never gets copied to absorb a 1 GB micro-batch. Every
    * store read first runs the store's recovery sweep: a crash inside a
    * previous fold's partition swap parks that partition in a side-dir,
    * and planning against a store missing parked history would silently
    * lose band keys (and with them every future cross-batch pair against
    * those docs).
    *
    * Replay safety: [[Maintain.once]] short-circuits a replayed batch,
    * and a crashed attempt of THIS batch id left at most its own
    * `__batch=<id>` and `__applied=<id>` partitions, which the refold
    * does not read (history stops at the committed batch) and replaces,
    * never doubles.
    *
    * Re-ingested documents: a doc id re-arriving in a later batch (same
    * or updated text) is folded by anti-joining its band keys against
    * the store — already-present (id, band, key) rows are dropped, so an
    * unchanged re-ingest appends nothing and re-emits no pairs, while an
    * UPDATED doc contributes only its changed band keys (its stale keys
    * stay in the store, so candidates are generated against both the old
    * and new fingerprints — conservative over-generation, the right
    * failure mode for a candidate stage; true key retraction needs the
    * batch rebuild).
    */
  def applyBatch(store: TableStore, bandTable: String, pairsTable: String,
      idCol: String, textCol: String, numHashes: Int, rowsPerBand: Int,
      shingleN: Int)(batch: DataFrame, batchId: Long): Unit = {
    Maintain.once(store, bandTable, batchId) { committed =>
      val batchBands = Dedup.bandKeysFromWide(
        Dedup.minhashWide(
          batch.select(col(idCol),
            explode(graft.functions.TextAnalysis.shingles(col(textCol), shingleN))
              .as("shingle")),
          idCol, numHashes),
        idCol, numHashes, rowsPerBand)
      val oldBands = Maintain.history(store, bandTable, committed, batchBands)
      // shingle once; the deduped bands feed the join AND the store
      val newBands = Pin(batchBands
        .join(oldBands, Seq(idCol, "band", "band_key"), "left_anti"))
      val allBands = oldBands.unionByName(newBands)
      val newPairs = Dedup.incrementalCandidatePairs(allBands, newBands, idCol)
        .withColumn("__batch", lit(batchId))
      store.replacePartitions(pairsTable, newPairs, "__batch")
      store.replacePartitions(bandTable,
        newBands.withColumn("__applied", lit(batchId)), "__applied")
    }
  }
}
