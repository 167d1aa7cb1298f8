package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weak-scaling soak: replicate the driver testdata N× with DISJOINT
  * keys/content per copy, then time the heavy query families at each
  * factor. The reference processed 38 GB / 20.2 M publications in one
  * run (reference report §results); the driver testdata tops out at
  * sf0.1, so nonlinear surprises (quadratic candidate blowup, GC walls,
  * driver materialization) only show up under a scaled corpus. This main
  * is that probe — run it one-off, record the curve in NOTES.
  *
  * Scaling is *weak* (structure-preserving): each copy of `documents`
  * re-keys doc_id and suffixes every token with the copy index, so
  * shingle spaces are disjoint across copies — per-copy near-dup
  * structure is identical, corpus size grows k×, and a healthy inverted-
  * index path should grow ~k× in wall time (bucket sizes are unchanged).
  * An all-pairs path would grow k². Same idea for `lineitem`: order and
  * part keys shift per copy, so the co-occurrence graph becomes k
  * disjoint isomorphic components.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> SPARK_GRAFT_SOAK_FACTORS=1,2,5,10
  *        sbt "runMain graft.Soak"
  * Emits one JSON line per factor: {"factor":k,"queries":{name:sec,…}},
  * a query that threw reading "FAILED" instead of seconds.
  */
object Soak {

  /** Queries whose scale behavior is worth probing: the dedup family
    * (inverted index + LSH + CC), the iterative graph family, and the
    * biggest relational self-join. */
  val SoakQueries: Seq[String] = Seq(
    "dedup_exact", "dedup_ngram_jaccard", "dedup_containment",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_clusters",
    "graph_part_communities", "graph_part_components",
    "graph_part_communities_exact", "graph_part_pagerank_exact",
    "q_part_cooccur", "text_fingerprint", "text_quality",
    "pipe_decontaminate", "text_tfidf_terms", "dedup_semantic",
    "graph_part_kcore", "graph_part_sssp", "dedup_survivors",
    "q_topn_per_group",
    // r8 wave: wedge-join graph family + fingerprint/surprisal kernels
    "graph_part_clustering", "graph_part_common_neighbors",
    "text_lm_surprisal", "mm_image_phash",
    // r9 wave: the two rewritten scale fixes + the learned-vector tier
    "q_pareto_share", "q_entity_resolution",
    "sim_topk_learned", "dedup_learned_semantic",
    // r11 wave: bench-heavy rows that had never been soaked — the
    // salted-join and multi-rank-walk mechanisms ARE scale mechanisms,
    // so their curves belong in the standing evidence
    "q_orders_rfm", "q_skew_salted_join", "assoc_basket_lift",
    "pipe_leakage_matrix", "sim_topk_int8", "mm_resize_stats",
    "mm_image_near_dup", "dedup_span_fraction",
    // r11 additions: the asymmetric broadcast-index decontamination is
    // the scale-interesting newcomer (its cost must track the TRAIN
    // side linearly while the eval broadcast stays fixed)
    "pipe_decontaminate_fuzzy",
    // r11 second wave: the embedding-space decon screen (multiprobe
    // bucket equi-join — candidate mass must stay bounded as B steps)
    // and the broadcast-anchor miner (one corpus pass, k fixed)
    "pipe_decontaminate_semantic", "sim_hard_negatives",
    // r11 third wave: the uncertainty sampler rides the classifier pass
    "text_uncertainty_sample",
    // r11 fourth wave: the trilogy report composes three gated passes —
    // its curve belongs in the standing evidence
    "pipe_decontaminate_report",
    // r12: trained bucket-local centroids — the Lloyd passes add
    // iterations×(equi-join + aggregation); the curve must stay in
    // dedup_semantic's flat envelope
    "dedup_semantic_kmeans",
    // r12: the daily-embedding-ingest query — probe×cap pair stage
    // must scale with the batch (half the scaled corpus), not N²
    "dedup_semantic_incremental",
    // r12: the two-tier cascade — stage 2 must stay proportional to
    // the PAIR set (two equi-joins against embeddings), not the corpus
    "dedup_cascade",
    // r13: the persisted-index probe — build is one bucketed write of
    // the history slice, probe cost must track the batch like the
    // query form's; the bucketBy layout is what's under soak here
    "dedup_semantic_indexed")

  /** Scaled-table families each KNOWN soak query reads: 'd' =
    * documents, 'f' = the fact triple (lineitem/orders/part), 'e' =
    * embeddings. Scaling decisions route through this map — a query
    * NOT listed here (and not TPC-H-shaped `q<digit>…`, which is
    * always fact-only) scales EVERY family: the conservative default
    * costs only scaling time, where the old name-substring allowlist
    * silently produced flat curves for any fact-joining query whose
    * name missed every pattern (the r7 §8 failure, twice re-patched).
    * A WRONG entry here fails loudly (missing parquet path), never
    * silently. */
  private[graft] val AllFams = Set('d', 'f', 'e', 'v')
  private[graft] val SoakReads: Map[String, Set[Char]] = Map(
    "dedup_exact" -> Set('d'), "dedup_ngram_jaccard" -> Set('d'),
    "dedup_containment" -> Set('d'), "dedup_minhash_lsh" -> Set('d'),
    "dedup_simhash" -> Set('d'), "dedup_clusters" -> Set('d'),
    "dedup_survivors" -> Set('d'), "dedup_incremental" -> Set('d'),
    "dedup_semantic" -> Set('d', 'e'), "dedup_embedding_cosine" -> Set('e'),
    "text_fingerprint" -> Set('d'), "text_quality" -> Set('d'),
    "text_script_mix" -> Set('d'), "pipe_domain_mixture" -> Set('d'),
    "text_tfidf_terms" -> Set('d'), "pipe_decontaminate" -> Set('d'),
    "graph_part_communities" -> Set('f'), "graph_part_components" -> Set('f'),
    "graph_part_communities_exact" -> Set('f'),
    "graph_part_pagerank" -> Set('f'), "graph_part_pagerank_exact" -> Set('f'),
    "graph_part_kcore" -> Set('f'), "graph_part_sssp" -> Set('f'),
    "graph_part_triangles" -> Set('f'), "graph_part_bfs" -> Set('f'),
    "q_part_cooccur" -> Set('f'), "q_part_adjacency" -> Set('f'),
    "q_topn_per_group" -> Set('f'), "q_pk_integrity" -> Set('f'),
    "q_fk_integrity" -> Set('f'), "q_median_qty" -> Set('f'),
    "q_regr_slope" -> Set('f'),
    "sim_topk_bruteforce" -> Set('e'), "sim_topk_ivf" -> Set('e'),
    "sim_topk_srp" -> Set('e'), "sim_topk_int8" -> Set('e'),
    "graph_part_clustering" -> Set('f'),
    "graph_part_common_neighbors" -> Set('f'),
    "q_interval_overlap" -> Set('f'),
    "text_lm_surprisal" -> Set('d'), "pipe_token_budget" -> Set('d'),
    "mm_image_phash" -> Set('d'), "mm_audio_fingerprint" -> Set('d'),
    "graph_part_assortativity" -> Set('f'), "q_pareto_share" -> Set('f'),
    "assoc_basket_lift" -> Set('f'),
    "pipe_bpe_pair_counts" -> Set('d'), "text_readability" -> Set('d'),
    "pipe_dataset_card" -> Set('d'), "mm_scene_cuts" -> Set('d'),
    "mm_image_near_dup" -> Set('d'),
    "text_count_of_counts" -> Set('d'), "pipe_compaction_plan" -> Set('d'),
    "q_cohort_ltv" -> Set('f'), "q_supplier_peak90" -> Set('f'),
    "dedup_span_fraction" -> Set('d'),
    "graph_part_neighbor_jaccard" -> Set('f'),
    "text_domain_divergence" -> Set('d'),
    "mm_audio_silence" -> Set('d'),
    "graph_part_twohop_reach" -> Set('f'),
    "q_entity_resolution" -> Set('f'),
    "q_correlation" -> Set('f'),
    "sim_topk_learned" -> Set('d'), "dedup_learned_semantic" -> Set('d'),
    "graph_part_ppr_exact" -> Set('f'), "pipe_leakage_matrix" -> Set('d'),
    "q_orders_rfm" -> Set('f'),
    "mm_resize_stats" -> Set('d'), "q_skew_salted_join" -> Set('f'),
    "pipe_decontaminate_fuzzy" -> Set('d'), "text_token_fertility" -> Set('d'),
    "text_classifier_sweep" -> Set('d'),
    "pipe_decontaminate_semantic" -> Set('e'), "sim_hard_negatives" -> Set('e'),
    "dedup_semantic_kmeans" -> Set('e'),
    "dedup_semantic_incremental" -> Set('e'),
    "dedup_cascade" -> Set('d', 'e'),
    "text_uncertainty_sample" -> Set('d'),
    "pipe_decontaminate_report" -> Set('d', 'e'),
    // r12: the events battery had ZERO weak-scaling evidence (the soak
    // wrote events.parquet through unscaled) — the user-partitioned
    // window family is where a bot user serializes a partition at
    // 100 TB, so it gets its own scaled family + hot-user knob
    "q_events_sessions" -> Set('v'), "q_events_rolling" -> Set('v'),
    "q_events_ewma" -> Set('v'), "q_events_paths" -> Set('v'),
    "q_events_transitions" -> Set('v'), "q_events_retention" -> Set('v'),
    "q_events_funnel" -> Set('v'), "q_events_hau" -> Set('v'),
    // r13: the sketch twin shares q_events_hau's scan; the persisted
    // index reads the embeddings family like its query form
    "q_events_hau_approx" -> Set('v'),
    "dedup_semantic_indexed" -> Set('e'))

  private[graft] def famsFor(queries: Seq[String]): Set[Char] =
    queries.map(q => SoakReads.getOrElse(q,
      if (q.matches("^q\\d.*")) Set('f') else AllFams)).reduce(_ ++ _)

  /** documents scaled k×: copy c shifts doc_id by c·10^9 and suffixes
    * tokens with `_c` (copy 0 keeps the original text so factor 1 == the
    * input).
    *
    * `sharedDen = 0` (default) suffixes EVERY token — shingle spaces are
    * fully disjoint across copies, so inverted-index bucket sizes stay
    * constant and a healthy index path scales ~k×.
    *
    * `sharedDen = d > 0` keeps tokens with xxhash64(t) % d == 0
    * unsuffixed (deterministic ~1/d of the vocabulary SHARED across all
    * copies) — the realistic regime: common phrases recur corpus-wide,
    * so the shared shingles' buckets grow k× and the exact inverted-index
    * join pays O((k·bucket)²) on that slice while MinHash+LSH only
    * buckets on whole-band signature collisions (i.e. genuinely similar
    * docs) and stays ~linear. This is the regime that motivates LSH. */
  /** The per-copy key shift. Copies are only disjoint if every base key
    * is below it — checked before scaling, because a collision would
    * silently entangle the supposedly isomorphic components and corrupt
    * the whole weak-scaling premise. */
  private val KeyShift = 1000000000L

  private def requireKeysBelowShift(df: DataFrame, keyCols: String*): Unit = {
    // one combined aggregate (one scan, not one per key); null-safe for
    // an empty table (max of nothing = null = trivially in range)
    val row = df.agg(max(col(keyCols.head).cast("long")),
      keyCols.tail.map(kc => max(col(kc).cast("long"))): _*).head
    keyCols.zipWithIndex.foreach { case (kc, i) =>
      if (!row.isNullAt(i))
        require(row.getLong(i) < KeyShift,
          s"$kc max ${row.getLong(i)} >= shift $KeyShift: scaled copies would collide")
    }
  }

  /** History-only weak scaling for `dedup_incremental`'s headline claim
    * (cost ∝ batch, not corpus): copies c > 0 keep only EVEN doc_ids —
    * the query's history side — and the shift preserves parity, so the
    * new batch (odd ids) stays CONSTANT while the probed index grows k×.
    * A healthy incremental path stays ~flat across factors; anything
    * rescanning history-vs-history grows ~k². */
  private[graft] def scaleDocumentsHistoryOnly(docs: DataFrame, k: Int, sharedDen: Int): DataFrame =
    scaleCopies(docs, k, sharedDen, historyOnly = true)

  private[graft] def scaleDocuments(docs: DataFrame, k: Int, sharedDen: Int): DataFrame =
    scaleCopies(docs, k, sharedDen, historyOnly = false)

  /** SPARK_GRAFT_SOAK_HOT_PHRASE=n appends n copies of a stopword token
    * to EVERY document (all copies, factor 1 included): one shingle —
    * "the the the" — whose document frequency equals the whole corpus.
    * This is the adversarial vocab for the inverted-index dedup family:
    * that single bucket contributes O(N²) candidate pairs that all fail
    * the Jaccard verify, which is exactly what the df cap exists to
    * amputate. sharedDen alone cannot manufacture this (it shares
    * vocabulary across copies, but per-shingle df still only grows ~k). */
  private def hotPhraseTokens: Int = {
    val n = sys.env.getOrElse("SPARK_GRAFT_SOAK_HOT_PHRASE", "0").toInt
    // the dedup family shingles word 3-grams: fewer than 3 appended
    // tokens yields only boundary shingles containing doc-specific
    // tokens — no corpus-wide hot shingle, a silently-vacuous A/B
    require(n == 0 || n >= 3,
      s"HOT_PHRASE needs >= 3 tokens to form a corpus-wide 3-gram shingle, got $n")
    n
  }

  private def appendHotPhrase(docs: DataFrame): DataFrame =
    if (hotPhraseTokens <= 0) docs
    else docs.withColumn("text",
      concat_ws(" ", col("text") +: Seq.fill(hotPhraseTokens)(lit("the")): _*))

  /** SPARK_GRAFT_SOAK_HOT_ORDER=n appends ONE synthetic order carrying
    * n distinct parts (disjoint id range) to the scaled lineitem: the
    * degenerate hot group for the group-then-expand family, paying
    * n²/2 in-partition pairs if expanded. This is the adversarial A/B
    * for the clique cap (RelationalQueries.orderPartSets): with the
    * default cap the planted order is excluded and the probe's cost is
    * flat; with SPARK_GRAFT_CLIQUE_CAP=0 it pays the quadratic tail.
    * The synthetic rows carry only the two join keys (other lineitem
    * columns null) — meant for cooccur/adjacency probes only. */
  private def hotOrderParts: Int =
    sys.env.getOrElse("SPARK_GRAFT_SOAK_HOT_ORDER", "0").toInt

  /** SPARK_GRAFT_SOAK_HOT_BLOCK=n appends n synthetic part rows whose
    * names share ONE first token ("hotblk <10-hex-digest>"): the
    * degenerate blocking key for the edit-distance ER family, paying
    * n²/2 levenshtein evaluations if the block expands. Digest
    * suffixes keep MOST pairs above the match threshold, but 10-hex
    * strings collide within distance 4 at ~1e-5 per pair — at n=4000
    * that is ~100 pseudo-match rows in the UNCAPPED run (measured 111
    * vs the real 8; recorded in NOTES_r9 §3). The A/B is therefore a
    * COST probe: compare wall time, and expect the capped run — and
    * only it — to reproduce the real-data output. Default
    * SPARK_GRAFT_BLOCK_CAP excludes the block (flat);
    * SPARK_GRAFT_BLOCK_CAP=0 pays the quadratic tail. */
  private def hotBlockNames: Int =
    sys.env.getOrElse("SPARK_GRAFT_SOAK_HOT_BLOCK", "0").toInt

  private def appendHotBlock(p: DataFrame): DataFrame =
    if (hotBlockNames <= 0) p
    else p.unionByName(
      // every part column gets a benign value (not null): a hot-block
      // run shares the scaled part.parquet with every other part-reading
      // probe in the same soak invocation, and a null p_brand/p_type
      // would silently change THEIR row sets (r9 ADVICE)
      p.sparkSession.range(hotBlockNames).select(
        (col("id") + 950000000L).as("p_partkey"),
        concat(lit("hotblk "),
          substring(md5(col("id").cast("string")), 1, 10)).as("p_name"),
        lit("Brand#99").as("p_brand"),
        lit("SYNTHETIC HOTBLK FILLER").as("p_type"),
        lit(1).as("p_size"),
        lit(0.0d).as("p_retailprice")),
      allowMissingColumns = true)

  private def appendHotOrder(li: DataFrame): DataFrame =
    if (hotOrderParts <= 0) li
    else li.unionByName(
      // non-null but OUT-OF-DOMAIN values for every lineitem column
      // (same shared-parquet reasoning as appendHotBlock, r10 ADVICE
      // refined): other fact-family probes in the same soak run read
      // this file too, and an IN-domain filler (r10 used shipdate
      // 1995 / flags N,O) silently entered their date-range and
      // flag-grouped row sets. Sentinels — a shipdate past the TPC-H
      // 1992–1998 window and a flag pair no real row carries — fall
      // out of every range/flag predicate while staying non-null.
      li.sparkSession.range(hotOrderParts).select(
        lit(999999999L).as("l_orderkey"),
        (col("id") + 900000000L).as("l_partkey"),
        lit(1L).as("l_suppkey"),
        (col("id") + 1L).cast("int").as("l_linenumber"),
        lit(1.0d).as("l_quantity"),
        lit(0.0d).as("l_extendedprice"),
        lit(0.0d).as("l_discount"),
        lit(0.0d).as("l_tax"),
        lit("X").as("l_returnflag"),
        lit("X").as("l_linestatus"),
        lit("2099-01-01 00:00:00").cast("timestamp").as("l_shipdate")),
      allowMissingColumns = true)

  private def scaleCopies(docs: DataFrame, k: Int, sharedDen: Int, historyOnly: Boolean): DataFrame = {
    if (k > 1) requireKeysBelowShift(docs, "doc_id")
    val copies = (0 until k).map { c =>
      if (c == 0) docs
      else {
        // KeyShift is even, so the shift preserves doc_id parity (the
        // history/new split key of dedup_incremental)
        val base = if (historyOnly) docs.where(pmod(col("doc_id"), lit(2)) === 0) else docs
        val suffix = (t: org.apache.spark.sql.Column) =>
          if (sharedDen <= 0) concat(t, lit(s"_$c"))
          else when(pmod(xxhash64(t), lit(sharedDen)) === 0, t)
            .otherwise(concat(t, lit(s"_$c")))
        base
          .withColumn("doc_id", col("doc_id") + lit(c.toLong * KeyShift))
          .withColumn("text",
            concat_ws(" ", transform(split(col("text"), graft.functions.UnicodeText.WsPlus), suffix)))
      }
    }
    // hot phrase appends AFTER suffixing, so the stopword shingle is
    // identical across every copy — df grows with the WHOLE corpus
    appendHotPhrase(copies.reduce(_.unionByName(_)))
  }

  /** lineitem scaled k×: copy c shifts l_orderkey / l_partkey so the
    * co-occurrence graph gains k disjoint isomorphic components. */
  /** embeddings scaled k×: copy c shifts vec_id. `dedup_semantic`'s
    * adaptive pieces both ride the scaled table: B grows with N (so
    * bucket count and expected occupancy track the corpus), and each
    * bucket's centroid candidates are its own lowest vec_ids —
    * under the shift those come from copy 0, which is fine: copies
    * are isomorphic, and the r11 scheme's cost is O(N·C) regardless
    * of where the centroids sit. */
  /** The one shift-and-union kernel behind every keyed table: copy c
    * shifts each named key by c·KeyShift (copy 0 is the original), so
    * copies are key-disjoint isomorphic replicas. Keys that two tables
    * share (l_orderkey/o_orderkey, l_partkey/p_partkey) shift by the
    * same amount, keeping the join structure intact per copy. */
  private def scaleShifted(df: DataFrame, k: Int, keys: String*): DataFrame = {
    if (k > 1) requireKeysBelowShift(df, keys: _*)
    val copies = (0 until k).map { c =>
      if (c == 0) df
      else keys.foldLeft(df)((d, key) =>
        d.withColumn(key, col(key) + lit(c.toLong * KeyShift)))
    }
    copies.reduce(_.unionByName(_))
  }

  private[graft] def scaleEmbeddings(e: DataFrame, k: Int): DataFrame =
    scaleShifted(e, k, "vec_id")

  /** embeddings scaled k× on the HISTORY side only (even vec_ids; the
    * even KeyShift preserves parity): the arriving batch (odd vec_ids)
    * stays CONSTANT while the probed history grows k× — the semantic
    * twin of [[scaleDocumentsHistoryOnly]], for
    * dedup_semantic_incremental's cost-∝-batch claim. Copies are exact
    * vector duplicates, so every batch vector's candidate bucket fills
    * with history twins — the per-(bucket, side) cap is what keeps the
    * pair stage bounded, which is exactly what this axis measures. The
    * quantizer width still derives from the GROWN history count, as a
    * rebuilt index would. */
  /** events scaled k×: copy c shifts user_id AND event_id — k disjoint
    * isomorphic user populations active over the SAME time range (the
    * realistic growth axis for an event stream: more users, same
    * period, k× density per time bucket). Timestamps are unshifted, so
    * date-keyed outputs keep their cardinality while user-keyed window
    * state grows with the corpus. */
  private[graft] def scaleEvents(e: DataFrame, k: Int): DataFrame =
    scaleShifted(e, k, "user_id", "event_id")

  /** SPARK_GRAFT_SOAK_HOT_DOC=n appends ONE document of n DISTINCT
    * synthetic tokens (~7n bytes — n=10M is a ~70 MB row, the
    * "concatenated crawl dump nobody length-capped" hazard): the
    * per-ROW memory/skew axis for the text-kernel family, orthogonal
    * to HOT_PHRASE (which grows a shingle's df, not a document). Every
    * per-doc kernel (tokens, n-grams, shingle sets, span windows,
    * fingerprints) must build its whole array for this one row inside
    * one task; a kernel whose per-doc state is superlinear — or a plan
    * that ships the raw text through a shuffle — surfaces here long
    * before the uniform ladder shows it. Distinct tokens by
    * construction: the giant doc shares no shingle with the corpus, so
    * pair-stage results stay unchanged and the axis isolates per-row
    * cost. The text materializes in the EXECUTOR (sequence/transform
    * expressions), never on the driver. */
  private def hotDocTokens: Int =
    sys.env.getOrElse("SPARK_GRAFT_SOAK_HOT_DOC", "0").toInt

  private def appendHotDoc(docs: DataFrame): DataFrame =
    if (hotDocTokens <= 0) docs
    else docs.unionByName(
      docs.sparkSession.range(1).select(
        lit(888888888L).as("doc_id"),
        expr(s"array_join(transform(sequence(1, $hotDocTokens), " +
          "i -> concat('hd', CAST(i AS STRING))), ' ')").as("text"),
        lit("xx").as("lang"),
        lit("hotdoc").as("source"),
        lit(7L * hotDocTokens).as("n_chars")),
      allowMissingColumns = true)

  /** SPARK_GRAFT_SOAK_HOT_USER=n appends ONE synthetic user carrying n
    * events (out-of-domain id and type, far-future timestamps one
    * second apart) — the bot-user axis for the user-partitioned window
    * family: every per-user window (sessionization, rolling frames,
    * EWMA, paths) must sort and aggregate that user's whole history
    * inside ONE partition, so a query whose per-user state is
    * unbounded knees here long before the uniform ladder shows it.
    * Sentinel values (user 999999999, type "hot", year 2099) follow
    * the appendHotOrder discipline: other 'v' probes sharing the
    * scaled parquet gain at most a few out-of-range groups, never
    * in-domain rows. */
  private def hotUserEvents: Int =
    sys.env.getOrElse("SPARK_GRAFT_SOAK_HOT_USER", "0").toInt

  private def appendHotUser(ev: DataFrame): DataFrame =
    if (hotUserEvents <= 0) ev
    else ev.unionByName(
      ev.sparkSession.range(hotUserEvents).select(
        (col("id") + 900000000L).as("event_id"),
        // 2099-01-01 epoch-micros + 1s per event
        expr("timestamp_micros(4070908800000000 + id * 1000000)").as("ts"),
        lit(999999999L).as("user_id"),
        lit("hot").as("event_type"),
        lit(0.0d).as("value"),
        lit(null).cast("string").as("props")),
      allowMissingColumns = true)

  private[graft] def scaleEmbeddingsHistoryOnly(e: DataFrame, k: Int): DataFrame = {
    if (k > 1) requireKeysBelowShift(e, "vec_id")
    val copies = (0 until k).map { c =>
      if (c == 0) e
      else e.where(pmod(col("vec_id"), lit(2)) === 0)
        .withColumn("vec_id", col("vec_id") + lit(c.toLong * KeyShift))
    }
    copies.reduce(_.unionByName(_))
  }

  private[graft] def scaleLineitem(li: DataFrame, k: Int): DataFrame =
    scaleShifted(li, k, "l_orderkey", "l_partkey")

  /** orders / part scaled k× CONSISTENTLY with scaleLineitem's key
    * shifts, so the TPC-H join family weak-scales: order volume and the
    * part dimension grow k×, while customer / supplier / nation /
    * region stay fixed (o_custkey and l_suppkey are not shifted) — the
    * realistic regime where the same customers and suppliers just
    * transact k× more. */
  private[graft] def scaleOrders(ord: DataFrame, k: Int): DataFrame =
    scaleShifted(ord, k, "o_orderkey")

  private[graft] def scalePart(p: DataFrame, k: Int): DataFrame =
    scaleShifted(p, k, "p_partkey")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factors = sys.env.getOrElse("SPARK_GRAFT_SOAK_FACTORS", "1,2,5,10")
      .split(",").map(_.trim.toInt).toSeq
    // 0 = disjoint shingle spaces; d>0 = ~1/d of tokens shared corpus-wide
    val sharedDen = sys.env.getOrElse("SPARK_GRAFT_SOAK_SHARED_DEN", "0").toInt
    // 1 = grow only the history half (even doc_ids); the new batch stays
    // constant — the dedup_incremental cost-∝-batch probe
    val historyOnly = sys.env.getOrElse("SPARK_GRAFT_SOAK_HISTORY_ONLY", "0") == "1"
    val onlyQueries = sys.env.get("SPARK_GRAFT_SOAK_QUERIES")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(SoakQueries)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // 1 = scale spark.sql.shuffle.partitions with the factor (cpus·k),
    // the way a real cluster sizes partitions to the corpus. The
    // default soak HOLDS partitions fixed, so per-partition state
    // grows with the factor — a deliberate stress, but it conflates
    // "operator scales" with "32 partitions fit ×64 data" (r11 ×64:
    // three rows read >2× per 2× and the fixed-partition explanation
    // was an argument, not a measurement — this knob makes it one).
    val shufScale = sys.env.getOrElse("SPARK_GRAFT_SOAK_SHUFFLE_SCALE", "0") == "1"
    // SPARK_GRAFT_SOAK_SHUFFLE_PARTS=n: explicit HIGH initial shuffle
    // partition count, left for AQE to coalesce down — the profile a
    // real multi-executor cluster runs (r12 VERDICT #1: the ×128 jumps
    // were attributed to fixed-32 per-partition state passing the spill
    // envelope, but neither fixed-32 nor partitions-∝-factor is that
    // profile; this knob is). Overrides both the fixed and ∝-factor arms.
    val shufParts = sys.env.get("SPARK_GRAFT_SOAK_SHUFFLE_PARTS").map(_.toInt)
    val spark = GraftSession.get(cpus)

    val workRoot = s"/tmp/graft_soak_${System.nanoTime()}"
    try {
      factors.foreach { k =>
        val parts = shufParts.getOrElse(if (shufScale) cpus * k else cpus)
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        val dir = s"$workRoot/x$k"
        // which families to scale comes from the explicit per-query map
        // (unknown query -> scale everything); the three fact-keyed
        // tables scale TOGETHER or not at all — scaling lineitem alone
        // leaves its shifted order/part keys dangling, so any probe
        // that joins a dimension would silently process factor-1 data
        // past the join and the soak curve would read flat regardless
        // of the operator's real scaling behavior (the r7 §8 failure)
        val fams = famsFor(onlyQueries)
        // the per-token suffix rewrite is the most expensive transform —
        // written only when some probed query reads documents
        if (fams('d'))
          appendHotDoc(scaleCopies(Tables.documents(spark, sfDir), k, sharedDen, historyOnly))
            .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        if (fams('f')) {
          appendHotOrder(scaleLineitem(Tables.lineitem(spark, sfDir), k))
            .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
          scaleOrders(Tables.orders(spark, sfDir), k)
            .write.mode("overwrite").parquet(s"$dir/orders.parquet")
          appendHotBlock(scalePart(Tables.part(spark, sfDir), k))
            .write.mode("overwrite").parquet(s"$dir/part.parquet")
        } else {
          // copied through unscaled — a probe outside the scaled
          // families still RUNS (its wall simply doesn't scale)
          // instead of crashing on a missing path
          Seq("lineitem", "orders", "part").foreach { n =>
            Tables.table(spark, sfDir, n)
              .write.mode("overwrite").parquet(s"$dir/$n.parquet")
          }
        }
        Seq("supplier", "nation", "region", "customer").foreach { n =>
          Tables.table(spark, sfDir, n)
            .write.mode("overwrite").parquet(s"$dir/$n.parquet")
        }
        if (fams('v'))
          appendHotUser(scaleEvents(Tables.events(spark, sfDir), k))
            .write.mode("overwrite").parquet(s"$dir/events.parquet")
        else
          Tables.events(spark, sfDir)
            .write.mode("overwrite").parquet(s"$dir/events.parquet")
        if (fams('e'))
          (if (historyOnly) scaleEmbeddingsHistoryOnly(Tables.embeddings(spark, sfDir), k)
           else scaleEmbeddings(Tables.embeddings(spark, sfDir), k))
            .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
        else
          Tables.embeddings(spark, sfDir)
            .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
        val results = onlyQueries.map { name =>
          val r = GraftSession.timedRun(spark)(SparkEntry.queries(name)(spark, dir))
          r.left.foreach(e => System.err.println(s"[soak] $name failed: ${e.getMessage}"))
          name -> r
        }
        // a query that threw reads "FAILED" in both maps, never a time
        def field(pick: ((Double, Long)) => Any): String = results.map { case (n, r) =>
          s"\"$n\":" + r.fold(_ => "\"FAILED\"", pick(_).toString)
        }.mkString("{", ",", "}")
        println(s"""{"factor":$k,"sharedDen":$sharedDen,"historyOnly":$historyOnly,"shuffleParts":$parts,"queries":${field(_._1)},"rows":${field(_._2)}}""")
      }
    } finally {
      val p = new org.apache.hadoop.fs.Path(workRoot)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
      spark.stop()
    }
  }
}
