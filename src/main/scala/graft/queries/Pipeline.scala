package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators (builder-prompt mandate): exact and
  * near deduplication, similarity search over embeddings, and text
  * analysis — each over the `documents` / `embeddings` tables with an
  * independent DuckDB oracle.
  *
  * Hash functions are engine-portable by construction: MD5 hex strings
  * (identical in Spark and DuckDB) are used as the hash domain — MinHash
  * takes the lexicographic minimum of salted MD5s, SimHash uses the high
  * bit of each hex nibble — so the oracle can recompute signatures exactly.
  */
object Pipeline {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  private def words(text: Column): Column = split(trim(text), " +")

  /** Sequential double dot product over two float arrays. A JVM while-loop
    * UDF: Catalyst higher-order functions are interpreted per element
    * (~40× slower here), and the index-ascending summation order is
    * identical either way, so oracle doubles match bit-for-bit.
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotProduct(a, b)

  private val QuantilePs = Seq(0.25, 0.5, 0.75, 0.9)

  /** SimHash fingerprint of each non-empty document: per word, take the
    * high bit of each of the first `bits` md5 hex nibbles; sum +1/-1
    * votes per bit position; the fingerprint packs the positive-vote
    * bits. Empty/whitespace-only docs are excluded up front — Spark's
    * split-then-drop-empty-words would silently skip them while an
    * unnest-based oracle would fingerprint md5('') (latent divergence).
    */
  private def simhashFp(s: SparkSession, d: String, bits: Int): DataFrame = {
    import s.implicits._
    val w = graft.operators.Scale.fanOutScan(documents(s, d))
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", explode(words($"text")).as("word"))
      .filter($"word" =!= "")
      .select($"doc_id", md5($"word".cast("binary")).as("h"))
    val bitSums = (0 until bits).map(j =>
      sum(when(substring($"h", j + 1, 1) >= "8", 1).otherwise(-1)).as(s"s$j"))
    w.groupBy($"doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select($"doc_id",
        (0 until bits).map(j => when(col(s"s$j") > 0, 1L << j).otherwise(0L))
          .reduce(_ + _).as("fp"))
  }

  /** Deterministic per-key hash sampling with per-stratum rates: keep a
    * row iff the first 4 hex chars of `md5(salt:key)` fall under the
    * stratum's threshold (rate quantized to 1/65536; lowercase hex
    * compares lexicographically = numerically). Unlike `df.sample`, the
    * decision is a pure function of the key — stable across runs,
    * partitionings, and engines (so the DuckDB oracle reproduces it
    * exactly), and re-running a 100 TB pipeline keeps the same sample
    * without any state. A narrow filter: no shuffle, pushes inside
    * whole-stage codegen.
    */
  def stratifiedHashSample(df: DataFrame, key: Column, strata: Column,
                           rates: Map[String, Double], defaultRate: Double,
                           salt: String = "s"): DataFrame = {
    def thr(r: Double): String = {
      require(r >= 0.0 && r <= 1.0, s"rate out of range: $r")
      val buckets = math.round(r * 65536).toInt
      // rate 1.0 → 65536 would format as the 5-char "10000", which
      // compares lexicographically BELOW most 4-char prefixes ("abcd" >
      // "10000") and silently keeps ~6% instead of all; any single
      // character above 'f' is greater than every 4-hex prefix
      if (buckets >= 65536) "g" else f"$buckets%04x"
    }
    val thrCol = rates.foldLeft(lit(thr(defaultRate))) { case (acc, (k, r)) =>
      when(strata === k, lit(thr(r))).otherwise(acc)
    }
    df.filter(substring(
      md5(concat(lit(salt + ":"), key.cast("string")).cast("binary")), 1, 4) < thrCol)
  }

  /** Overlapping word-window chunks of each document (RAG-style chunking,
    * the split step before embedding/indexing a corpus). Chunk k covers
    * 1-based word positions [k·stride+1, k·stride+size]; chunks stop once
    * a window has reached the end of the doc (⌈(n−size)/stride⌉+1 chunks,
    * so no fully-redundant tail window is emitted); a doc shorter than
    * `size` yields one chunk. Purely narrow — per-row `sequence`+`explode`
    * over word arrays, no shuffle — so it scales as a map over the
    * corpus; output volume is size/stride × input words.
    */
  def chunkWindows(docs: DataFrame, size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    import docs.sparkSession.implicits._
    docs.filter(length(trim($"text")) > 0)
      .select($"doc_id", words($"text").as("w"))
      .select($"doc_id", $"w", (org.apache.spark.sql.functions.size($"w"))
        .cast("long").as("n_words"))
      .select($"doc_id", $"n_words",
        explode(sequence(lit(0L),
          greatest(ceil(($"n_words" - size) / lit(stride.toDouble)), lit(0L))
            .cast("long"))).as("chunk_idx"), $"w")
      .select($"doc_id", $"chunk_idx",
        ($"chunk_idx" * stride + 1).as("start_word"),
        slice($"w", ($"chunk_idx" * stride + 1).cast("int"), lit(size)).as("cw"))
      .select($"doc_id", $"chunk_idx", $"start_word",
        org.apache.spark.sql.functions.size($"cw").cast("long")
          .as("chunk_words"),
        md5(concat_ws(" ", $"cw").cast("binary")).as("chunk_md5"))
  }

  /** Paragraph-level exact dedup with document rewrite (the CCNet /
    * MassiveText "remove duplicated paragraphs" preprocessing step; the
    * synthetic corpus has no newlines, so non-overlapping `segWords`-word
    * windows stand in for paragraphs). Every segment occurrence except
    * the globally first — min (doc_id, seg_idx), resolved by a
    * partial-aggregable min-of-struct, NOT a window sort — is dropped,
    * and each document is reassembled from its surviving segments in
    * position order. Scale shape: segmenting is narrow; the keeper
    * election is one hash shuffle on the segment hash with map-side
    * partial min; reassembly is one hash shuffle on doc_id whose
    * per-group state is bounded by the document length (the same bound
    * CCNet's per-document rewrite needs). Linear in the corpus, never a
    * self-join.
    */
  def paragraphDedup(docs: DataFrame, segWords: Int = 10): DataFrame = {
    require(segWords > 0, s"segWords must be positive: $segWords")
    import docs.sparkSession.implicits._
    // fanOutScan: segmentation + per-segment md5 off a one-split scan;
    // the segment table feeds two consumers (keeper election and the
    // reassembly join) — materialize it once instead of re-deriving
    val segs = graft.operators.Scale.fanOutScan(
        docs.filter(length(trim($"text")) > 0))
      .select($"doc_id", words($"text").as("w"))
      .select($"doc_id", posexplode(transform(
        sequence(lit(0),
          ceil(org.apache.spark.sql.functions.size($"w")
            / lit(segWords.toDouble)).cast("int") - 1),
        j => array_join(slice($"w", j * segWords + 1, lit(segWords)), " ")))
        .as(Seq("seg_idx", "seg")))
      .select($"doc_id", $"seg_idx", $"seg",
        md5($"seg".cast("binary")).as("h"))
      .localCheckpoint(false)
    val keepers = segs.groupBy($"h")
      .agg(min(struct($"doc_id", $"seg_idx")).as("keep"))
    segs.join(keepers, "h")
      .select($"doc_id", $"seg_idx", $"seg",
        ($"keep.doc_id" === $"doc_id" && $"keep.seg_idx" === $"seg_idx")
          .as("kept"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_segs"),
        sum($"kept".cast("long")).as("kept_segs"),
        md5(array_join(transform(
          array_sort(collect_list(when($"kept",
            struct($"seg_idx".as("i"), $"seg".as("s"))))),
          x => x.getField("s")), " ").cast("binary")).as("kept_md5"))
      .orderBy($"doc_id")
  }

  /** Distributed BPE merge-learning (the tokenizer-training inner loop,
    * Sennrich et al. 2016): per round, count adjacent symbol pairs across
    * the corpus, pick the most frequent (ties: lexicographically smallest
    * pair), and greedily merge it left-to-right inside every word. The
    * scale shape is what makes BPE trainable at 100 TB: the ONLY
    * corpus-sized operation is the initial word-count hash aggregation
    * (partial-aggregated); every iterative step — pair explode, weighted
    * pair counts, argmax, re-merge — runs on the DISTINCT-WORD table
    * (vocab-sized) with the single best-pair row broadcast back in. The
    * greedy merge is a portable string fold (`aggregate` HOF here,
    * `list_reduce` in the oracle): a symbol merges only when the
    * accumulator's LAST token equals `pa` exactly, so a just-merged token
    * never chains within the round — classic leftmost-first BPE.
    */
  def bpeLearn(docs: DataFrame, rounds: Int = 2): DataFrame = {
    import docs.sparkSession.implicits._
    bpeRounds(docs, rounds)._2.reduce(_.unionAll(_)).orderBy($"r")
  }

  /** Shared BPE round loop: returns (final distinct-word symbol table
    * after `rounds` merges, the per-round best-pair rows). [[bpeLearn]]
    * publishes the merge table; [[bpeApply]] tokenizes the corpus with
    * the final symbol table.
    */
  private[graft] def bpeRounds(docs: DataFrame,
      rounds: Int): (DataFrame, Seq[DataFrame]) = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    import docs.sparkSession.implicits._
    // (measured r19: a fanOutScan before this explode LOST 0.25 s — the
    // partial count combines in the scan task cheaper than a repartition)
    val wc = docs.filter(length(trim($"text")) > 0)
      .select(explode(words($"text")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("cnt"))
    var syms = wc.select($"word", $"cnt",
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        .as("syms"))
      .localCheckpoint(false)
    val roundRows = (1 to rounds).map { r =>
      val pairs = syms
        .filter(org.apache.spark.sql.functions.size($"syms") >= 2)
        .select($"cnt", explode(expr(
          """transform(sequence(1, size(syms) - 1),
             i -> struct(element_at(syms, i) AS pa,
                         element_at(syms, i + 1) AS pb))""")).as("p"))
        .groupBy($"p.pa".as("pa"), $"p.pb".as("pb"))
        .agg(sum($"cnt").as("wcnt"))
      val mx = pairs.agg(max($"wcnt").as("mc"))
      val best = pairs.crossJoin(broadcast(mx))
        .filter($"wcnt" === $"mc")
        .agg(min(struct($"pa", $"pb")).as("bp"), max($"mc").as("wcnt"))
        .select($"bp.pa".as("pa"), $"bp.pb".as("pb"), $"wcnt")
      syms = syms.crossJoin(broadcast(best))
        .withColumn("m", expr(
          """aggregate(slice(syms, 2, greatest(size(syms) - 1, 0)),
               element_at(syms, 1),
               (acc, s) -> CASE
                 WHEN s = pb AND (acc = pa OR endswith(acc, ' ' || pa))
                 THEN concat(left(acc, length(acc) - length(pa)), pa, pb)
                 ELSE concat(acc, ' ', s) END)"""))
        .select($"word", $"cnt", split($"m", " ").as("syms"))
        .localCheckpoint(false)
      best.select(lit(r).as("r"), $"pa", $"pb",
        concat($"pa", $"pb").as("merged"), $"wcnt")
    }
    (syms, roundRows)
  }

  /** Tokenize the corpus with a learned BPE vocabulary — the inference
    * half of [[bpeLearn]]. The scale insight: after training, the final
    * distinct-word symbol table IS the tokenization of every word, so
    * applying BPE to 100 TB of text is one corpus-sized explode joined
    * to a vocabulary-sized lookup (hash equi-join; broadcastable when
    * the vocab fits) — no per-document merge loop ever runs at corpus
    * scale. Emits per-doc token accounting: word/token/char counts and
    * chars-per-token ×1000 (integer floor — the compression ratio a
    * tokenizer report would show).
    */
  def bpeApply(docs: DataFrame, rounds: Int = 2): DataFrame = {
    import docs.sparkSession.implicits._
    val vocab = bpeRounds(docs, rounds)._1.select($"word",
      org.apache.spark.sql.functions.size($"syms").as("ntok"),
      length($"word").as("nch"))
    docs.filter(length(trim($"text")) > 0)
      .select($"doc_id", explode(words($"text")).as("word"))
      .join(vocab, "word")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum($"ntok").as("n_tokens"),
        sum($"nch").as("n_chars"))
      .select($"doc_id", $"n_words", $"n_tokens", $"n_chars",
        expr("n_chars * 1000 div n_tokens").as("cpt_x1000"))
      .orderBy($"doc_id")
  }

  /** DSIR-shaped importance selection (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every doc by
    * how much its hashed unigram+bigram features look like a TARGET
    * distribution (docs with `lang = targetLang`) relative to the RAW
    * corpus, then keep the global top-`k`. The weight per hash bucket is
    * the integer cross-difference ct*Nr - cr*Nt (the sign of the
    * relative-frequency gap in common-denominator form) rather than the
    * paper's log-likelihood ratio — same ranking intent, exactly
    * replayable in integer arithmetic. Scale shape: two corpus-sized
    * hash aggs build the `buckets`-row tables, the per-doc score is the
    * corpus explode joined to the BROADCAST bucket-weight table, and
    * selection is a bounded TakeOrdered — never a corpus sort.
    */
  def dsirSelect(docs: DataFrame, targetLang: String, k: Int,
      buckets: Int = 4096): DataFrame = {
    import docs.sparkSession.implicits._
    // fanOutScan: the unigram+bigram feature explode + md5 below is the
    // expensive per-row stage — spread the one-split scan first
    val base = graft.operators.Scale.fanOutScan(
        docs.filter(length(trim($"text")) > 0))
      .select($"doc_id", $"lang", words($"text").as("w"))
    val feats = base.select($"doc_id", $"lang", explode(concat($"w",
        zip_with($"w",
          slice($"w", lit(2), greatest(
            org.apache.spark.sql.functions.size($"w") - 1, lit(0))),
          (a, b) => concat(a, lit("_"), b)))).as("f"))
      .filter($"f".isNotNull)
      .select($"doc_id", $"lang",
        (conv(substring(md5(concat(lit("dsir:"), $"f").cast("binary")),
          1, 6), 16, 10).cast("long") % buckets).as("b"))
      // two consumers (bucket-weight build, per-doc scoring join) — the
      // corpus-sized explode + md5 materializes once, not once each
      .localCheckpoint(false)
    // raw and target bucket counts in ONE pass over the features (a
    // conditional sum instead of a second scan + left join)
    val wts = feats.groupBy($"b").agg(count(lit(1)).as("cr"),
      sum(when($"lang" === targetLang, 1L).otherwise(0L)).as("ct"))
    val totals = wts.agg(sum($"cr").as("nr"), sum($"ct").as("nt"))
    val scoreByBucket = wts.crossJoin(broadcast(totals))
      .select($"b", ($"ct" * $"nr" - $"cr" * $"nt").as("sb"))
    feats.join(broadcast(scoreByBucket), "b")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("feats"), sum($"sb").as("score"))
      .orderBy($"score".desc, $"doc_id").limit(k)
      .orderBy($"doc_id")
  }

  /** BM25 retrieval (Robertson–Spärck Jones; k1 = 1.2, b = 0.75) over the
    * corpus for a literal term query, in EXACT integer arithmetic so the
    * oracle replays it bit-for-bit: with N docs and A total tokens
    * (avgdl = A/N), the per-term contribution
    * idf · tf(k1+1) / (tf + k1(1−b+b·dl/avgdl)) clears denominators to
    * ((1000·N div df) · 44·A·tf) div (20·A·tf + 6·A + 18·dl·N).
    * Scale shape: one corpus scan explodes tokens and filters to the
    * query terms BEFORE any aggregation (the candidate set is only docs
    * containing a term), the df table and the 1-row (N, A) stats both
    * broadcast, and selection is a bounded TakeOrdered — never a corpus
    * sort and never a corpus-sized join.
    */
  def bm25Search(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "bm25Search needs at least one query term")
    import docs.sparkSession.implicits._
    val base = docs.filter(length(trim($"text")) > 0)
      .select($"doc_id", words($"text").as("w"))
    val stats = base.agg(count(lit(1)).as("n_docs"),
      sum(org.apache.spark.sql.functions.size($"w")).as("a"))
    val tf = base.select($"doc_id",
        org.apache.spark.sql.functions.size($"w").cast("long").as("dl"),
        explode($"w").as("term"))
      .filter($"term".isin(terms: _*))
      .groupBy($"doc_id", $"dl", $"term").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfq), "term")
      .crossJoin(broadcast(stats))
      .select($"doc_id", expr(
        """(((1000 * n_docs) div df) * (44 * a * tf))
           div (20 * a * tf + 6 * a + 18 * dl * n_docs)""").as("contrib"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("nterms"), sum($"contrib").as("score"))
      .orderBy($"score".desc, $"doc_id").limit(k)
      .orderBy($"doc_id")
  }

  /** Concat-and-chunk sequence packing: lay every document's tokens on one
    * global tape in `doc_id` order and cut the tape every `budget` tokens;
    * a document lands in the bin where its FIRST token falls (the
    * GPT-style pack-then-split recipe, with the split accounted to the
    * leading bin). The global prefix sum is computed distributed: docs
    * shard by `doc_id div shardSize`, the doc-level running sum is a
    * window PARTITIONED BY shard (partition-parallel), and only the
    * shard-subtotal cumsum — |corpus|/shardSize rows — runs through a
    * single-partition window before broadcasting back. At 10¹⁰ docs and
    * shardSize 2²⁰ the serial step is ~10⁴ rows; nothing doc-sized ever
    * funnels through one task (PlanQualitySpec pins it).
    */
  def packBins(docs: DataFrame, budget: Int, shardSize: Int = 64): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = docs.filter(length(trim($"text")) > 0)
      .select($"doc_id",
        org.apache.spark.sql.functions.size(words($"text")).cast("long")
          .as("tokens"),
        floor($"doc_id" / shardSize).cast("long").as("shard"))
    val inShard = Window.partitionBy($"shard").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = toks.select($"doc_id", $"tokens", $"shard",
      sum($"tokens").over(inShard).as("cum_in_shard"))
    val overShards = Window.orderBy($"shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    // shard subtotal = the LAST running sum in the shard: deriving it
    // from `withCum` (not from a second aggregation over `toks`) makes
    // both consumers share one hashpartitioning(shard) exchange —
    // ReuseExchange collapses them, so the input is derived once even
    // when it is itself an expensive pipeline (e2e_corpus_build pins
    // the resulting scan/serial-step counts)
    val offsets = withCum.groupBy($"shard").agg(max($"cum_in_shard").as("st"))
      .select($"shard",
        coalesce(sum($"st").over(overShards), lit(0L)).as("shard_offset"))
    withCum.join(broadcast(offsets), "shard")
      .select($"doc_id", $"tokens",
        ($"shard_offset" + $"cum_in_shard" - $"tokens").as("cum_before"))
      .select($"doc_id", $"tokens",
        floor($"cum_before" / budget).cast("long").as("bin_id"))
      .groupBy($"bin_id")
      .agg(count(lit(1)).as("docs"), sum($"tokens").as("bin_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
  }

  /** Temperature-weighted source mixing (the data-mixture step of an LLM
    * corpus build): source i's sampling weight is nᵢ^α (α = 0.5 here —
    * upweights small sources), normalized into a doc budget of
    * `total div budgetDiv`, capped at keeping a source whole. All
    * intermediate state is integer (weights quantized ×10⁶ BEFORE the
    * normalizing sum, so the Σ is order-free) and the per-source keep
    * rate quantizes to 1/65536 for the same md5-threshold membership the
    * oracle replays. Two narrow scans of the corpus + a 20-row broadcast:
    * the mixture plan at 100 TB is a pair of map-side passes.
    */
  /** The per-source rate table behind [[sourceMix]] — (source, n, w_x1e6,
    * rate_x65536, thr), where `thr` is the 4-hex md5 keep threshold.
    * Exposed so pipeline compositions (e2e corpus build) can sample with
    * the same allocation.
    */
  def sourceMixRates(docs: DataFrame, budgetDiv: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val counts = docs.groupBy($"source").agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum($"n").as("total"),
      sum(floor(sqrt($"n") * 1e6).cast("long")).as("wsum"))
    counts.crossJoin(broadcast(totals))
      .select($"source", $"n",
        floor(sqrt($"n") * 1e6).cast("long").as("w_x1e6"),
        floor($"total" / budgetDiv).as("target"), $"wsum")
      .select($"source", $"n", $"w_x1e6",
        floor(least(lit(1.0),
          $"w_x1e6".cast("double") / $"wsum" * $"target" / $"n") * 65536.0)
          .cast("long").as("rate_x65536"))
      .select($"source", $"n", $"w_x1e6", $"rate_x65536",
        when($"rate_x65536" >= 65536, lit("g"))
          .otherwise(format_string("%04x", $"rate_x65536")).as("thr"))
  }

  def sourceMix(docs: DataFrame, budgetDiv: Int = 4,
                salt: String = "mix"): DataFrame = {
    import docs.sparkSession.implicits._
    val rates = sourceMixRates(docs, budgetDiv)
    val sampled = docs.join(broadcast(rates.select($"source", $"thr")), "source")
      .filter(substring(md5(concat(lit(salt + ":"),
        $"doc_id".cast("string")).cast("binary")), 1, 4) < $"thr")
      .groupBy($"source").agg(count(lit(1)).as("sampled"))
    rates.join(broadcast(sampled), Seq("source"), "left")
      .select($"source", $"n", $"w_x1e6", $"rate_x65536",
        coalesce($"sampled", lit(0L)).as("sampled"))
  }

  /** Seeded deterministic global shuffle for training-order export: every
    * doc's shuffle key is `md5(seed:doc_id)` — a pure function of the row,
    * so the order is stable across runs, partitionings, and engines. The
    * write shape is `repartitionByRange(key).sortWithinPartitions(key)`
    * ([[shuffledExport]]); this query materializes the observable part —
    * the per-bucket histogram a range writer would produce (bucket = first
    * hex char here; a real export uses O(output files) buckets) with a
    * balance band asserting no bucket exceeds 2× the mean, i.e. the
    * md5 key space is safe to range-split without skewed output files.
    */
  def shuffleBuckets(docs: DataFrame, salt: String = "shuf"): DataFrame = {
    import docs.sparkSession.implicits._
    val keyed = docs.select($"doc_id",
      md5(concat(lit(salt + ":"), $"doc_id".cast("string"))
        .cast("binary")).as("k"))
    val b = keyed.groupBy(substring($"k", 1, 1).as("bucket"))
      .agg(count(lit(1)).as("cnt"),
        min(substring($"k", 1, 8)).as("min_k8"),
        max(substring($"k", 1, 8)).as("max_k8"),
        sum($"doc_id").as("sum_doc"))
    val tot = b.agg(sum($"cnt").as("total"))
    b.crossJoin(broadcast(tot))
      .select($"bucket", $"cnt", $"min_k8", $"max_k8", $"sum_doc",
        when($"cnt" * 16 <= $"total" * 2, 1L).otherwise(0L).as("balance_ok"))
  }

  /** The actual export shape for [[shuffleBuckets]]'s order: range-shuffle
    * on the seeded key then sort within partitions — each output partition
    * is a contiguous, internally-sorted slice of the global shuffle order,
    * ready for a partitioned write. PlanQualitySpec pins the
    * RangePartitioning exchange.
    */
  def shuffledExport(docs: DataFrame, partitions: Int,
                     salt: String = "shuf"): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", $"source", $"lang",
        md5(concat(lit(salt + ":"), $"doc_id".cast("string"))
          .cast("binary")).as("k"))
      .repartitionByRange(partitions, $"k")
      .sortWithinPartitions($"k")
  }

  /** Replayable Bloom-filter membership for incremental (new-vs-old
    * snapshot) dedup: each fingerprint sets `hashes` slots of a 16^hexLen
    * -slot filter, slot i = first `hexLen` hex chars of `md5(i:fp)` — a
    * pure function of the fingerprint, so DuckDB replays the exact filter.
    * A new doc is `maybe_seen` iff ALL its slots are set by some old doc;
    * Bloom's contract (no false negatives: an exact duplicate is always
    * maybe_seen) is emitted as a per-row `fn_ok` band the oracle pins 1.
    *
    * This formulation materializes the filter as a distinct (i, slot)
    * table and probes it with a hash equi-join — the oracle-checkable
    * baseline. The 100 TB path is the native bitset: Spark's
    * `bloom_filter_agg` builds one KB–MB binary that BROADCASTS into a
    * `might_contain` probe (no shuffle of 4n position rows);
    * BloomSpec pins the native path against this one (identical
    * no-false-negative behavior, ≥ as selective on the same split).
    */
  def bloomMaybeSeen(oldDocs: DataFrame, newDocs: DataFrame,
                     hashes: Int = 4, hexLen: Int = 5): DataFrame = {
    import oldDocs.sparkSession.implicits._
    def fp(df: DataFrame): DataFrame = df.select($"doc_id",
      md5(lower(trim(regexp_replace($"text", " +", " "))).cast("binary")).as("fp"))
    def slots(c: Column): Column = array((0 until hashes).map(i =>
      struct(lit(i).as("i"),
        substring(md5(concat(lit(s"$i:"), c).cast("binary")), 1, hexLen)
          .as("slot"))): _*)
    val oldFp = fp(oldDocs)
    val newFp = fp(newDocs)
    val filterTable = oldFp.select(explode(slots($"fp")).as("p"))
      .select($"p.i".as("i"), $"p.slot".as("slot")).distinct()
    val probes = newFp.select($"doc_id", $"fp", explode(slots($"fp")).as("p"))
      .select($"doc_id", $"fp", $"p.i".as("i"), $"p.slot".as("slot"))
    val seen = probes
      .join(filterTable.withColumn("hit", lit(1)), Seq("i", "slot"), "left")
      .groupBy($"doc_id", $"fp")
      .agg((sum(coalesce($"hit", lit(0))) === hashes).cast("long")
        .as("maybe_seen"))
    val dups = oldFp.select($"fp").distinct().withColumn("exact", lit(1L))
    seen.join(dups, Seq("fp"), "left")
      .select($"doc_id", $"maybe_seen",
        coalesce($"exact", lit(0L)).as("exact_dup"))
      .select($"doc_id", $"maybe_seen", $"exact_dup",
        when($"maybe_seen" >= $"exact_dup", 1L).otherwise(0L).as("fn_ok"))
  }

  /** Per-(lang, source) token-count quantiles over `documents`, the
    * engine behind percentile-based length filtering. `exact = true` runs
    * `percentile` (R-7 linear interpolation, same definition as DuckDB's
    * `quantile_cont`) — it buffers each group's values, so it is the
    * small-N oracle baseline. `exact = false` is the scale path:
    * `approx_percentile`'s Greenwald-Khanna sketch is single-pass,
    * mergeable across partitions (partial aggregation works), and holds
    * O(accuracy·log n) state per group regardless of group size — rank
    * error ≤ n/accuracy. ScaleSpec pins the sketch inside the exact
    * neighboring-quantile band.
    */
  def tokenQuantiles(docs: DataFrame, exact: Boolean,
                     accuracy: Int = 10000): DataFrame = {
    import docs.sparkSession.implicits._
    val ps = array(QuantilePs.map(lit): _*)
    val toks = docs.filter(length(trim($"text")) > 0)
      .select($"lang", $"source",
        size(words($"text")).cast("double").as("tokens"))
    val q =
      if (exact) percentile($"tokens", ps)
      else percentile_approx($"tokens", ps, lit(accuracy))
    toks.groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n"), q.as("qs"))
  }

  private def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Lloyd's k-means over an embeddings frame, fully order-free: dims
    * quantize to integers (×1000 floor, the v_centroid_outliers scheme)
    * and centroids are carried as un-divided (Σq, n) integer pairs, so
    * the squared distance to centroid j scales to the integer
    * nⱼ²·Σq² − 2nⱼ·⟨q,sⱼ⟩ + Σsⱼ²; the single double division ÷nⱼ²
    * (one IEEE op from integers — bit-identical in any engine) makes it
    * comparable across clusters. Iterations unroll into one lazy plan:
    * per round, centroids (k×64 rows) broadcast into the corpus and the
    * only wide exchanges are partial-aggregated groupBys keyed on
    * vec_id / (cid, k) — no self-join, no driver collection, linear in
    * the corpus at any scale. Returns (vec_id, cid, d2) of the final
    * assignment; clusters that empty mid-run drop out (n > 0 guard).
    */
  /** The ×1000-floor quantized dimension explode every integer-distance
    * consumer (k-means, silhouette) hangs off: (vec_id, k, qv). */
  private[graft] def quantizedDims(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    emb.select($"vec_id", posexplode($"embedding").as(Seq("k", "v")))
      .select($"vec_id", $"k",
        floor($"v".cast("double") * 1000).cast("long").as("qv"))
  }

  private[graft] def kmeansQuantized(emb: DataFrame, seeds: Seq[Long],
                                     iters: Int): DataFrame = {
    // the quantized explode feeds every iteration's scoring join AND the
    // centroid re-derivation (2·iters consumers) — materialize once
    kmeansForDims(quantizedDims(emb).localCheckpoint(false), seeds, iters)
  }

  /** Lloyd iterations over an already-derived (ideally checkpointed)
    * quantized-dims frame — split out so clusterSilhouette shares ONE
    * explode with the k-means rounds instead of re-deriving it. */
  private[graft] def kmeansForDims(dims: DataFrame, seeds: Seq[Long],
                                   iters: Int): DataFrame = {
    val s = dims.sparkSession
    import s.implicits._
    require(iters >= 1, "kmeansQuantized needs at least one iteration")
    var cent = dims.filter($"vec_id".isin(seeds: _*))
      .select($"vec_id".as("cid"), $"k", $"qv".as("sk"), lit(1L).as("n"))
    var assign: DataFrame = null
    for (it <- 1 to iters) {
      val live = cent.filter($"n" > 0)
      val stats = live.groupBy($"cid")
        .agg(sum($"sk" * $"sk").as("ss"), max($"n").as("n"))
      // Σqv² rides the SAME (vec_id, cid) aggregation as the inner
      // product (each group sees every dim exactly once), so the d2
      // assembly needs no per-vector Σq² side table — one exchange and
      // one shuffle-join per iteration fewer at any corpus size, for one
      // extra codegen multiply-add per (dim, centroid) row
      val ip = dims.join(broadcast(live.select($"cid", $"k", $"sk")), Seq("k"))
        .groupBy($"vec_id", $"cid")
        .agg(sum($"qv" * $"sk").as("ip"), sum($"qv" * $"qv").as("qq"))
      val scored = ip.join(broadcast(stats), Seq("cid"))
        .select($"vec_id", $"cid",
          ($"n" * $"n" * $"qq" - lit(2L) * $"n" * $"ip" + $"ss").as("d2"),
          $"n")
        .withColumn("dd", $"d2".cast("double") / ($"n" * $"n").cast("double"))
      assign = scored.groupBy($"vec_id")
        .agg(min(struct($"dd", $"cid", $"d2")).as("m"))
        .select($"vec_id", $"m.cid".as("cid"), $"m.d2".as("d2"))
      // checkpoint the per-iteration state so each round's plan hangs off
      // the previous round's MATERIALIZED result instead of replaying the
      // whole iteration history (lineage stays O(1) across iters)
      if (it < iters) {
        cent = dims.join(assign.select($"vec_id", $"cid"), Seq("vec_id"))
          .groupBy($"cid", $"k").agg(sum($"qv").as("sk"), count(lit(1)).as("n"))
          .localCheckpoint(false)
      }
    }
    assign
  }

  /** Simplified silhouette of the kmeansQuantized clustering: per point,
    * a = distance to the own FINAL centroid, b = min distance to any
    * other, s = (b−a)/max(a,b), aggregated per cluster. Distances reuse
    * the kmeans integer recipe (n²·qq − 2n·ip + ss over ×1000-quantized
    * dims); only the final sqrt/divide are FP, floor-quantized ×1e6 so
    * the oracle replays exactly. Centroids re-derive from the final
    * assignment with one partial agg; the k-row centroid table
    * broadcasts; no pairwise distances anywhere.
    */
  private[graft] def clusterSilhouette(emb: DataFrame, seeds: Seq[Long],
                                       iters: Int): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    // ONE quantized explode feeds the k-means rounds, the final-centroid
    // re-derivation AND the silhouette scoring join (it used to be
    // derived twice — once inside kmeansQuantized, once here)
    val dims = quantizedDims(emb).localCheckpoint(false)
    // the assignment feeds TWO consumers (centroid re-derivation and the
    // own-cluster join) — checkpoint it so the k-means iterations run
    // once, not once per consumer
    val assign = kmeansForDims(dims, seeds, iters).select($"vec_id", $"cid")
      .localCheckpoint(false)
    val cent = dims.join(assign, Seq("vec_id"))
      .groupBy($"cid", $"k").agg(sum($"qv").as("sk"), count(lit(1)).as("n"))
    val stats = cent.groupBy($"cid")
      .agg(sum($"sk" * $"sk").as("ss"), max($"n").as("n"))
    // Σqv² rides the scoring aggregation (see kmeansForDims) — no
    // per-vector Σq² table, no join by vec_id
    val ip = dims.join(broadcast(cent.select($"cid", $"k", $"sk")), Seq("k"))
      .groupBy($"vec_id", $"cid")
      .agg(sum($"qv" * $"sk").as("ip"), sum($"qv" * $"qv").as("qq"))
    val dd = ip.join(broadcast(stats), Seq("cid"))
      .select($"vec_id", $"cid",
        (($"n" * $"n" * $"qq" - lit(2L) * $"n" * $"ip" + $"ss")
          .cast("double") / ($"n" * $"n").cast("double")).as("dd"))
    // a = own-centroid distance, b = nearest-other distance, folded in
    // ONE pass over the scored rows (the aDist-filter ⋈ bDist-groupBy
    // form evaluated the whole dd subtree twice and paid an extra
    // shuffle-join to zip a with b; min commutes with the monotonic sqrt
    // on the nonneg d2, so aggregating dd and rooting after is exact)
    dd.join(assign.withColumnRenamed("cid", "own"), Seq("vec_id"))
      .groupBy($"vec_id", $"own")
      .agg(min(when($"cid" === $"own", $"dd")).as("add"),
        min(when($"cid" =!= $"own", $"dd")).as("bdd"))
      // the two-table form's inner join dropped a vector with no
      // other-cluster row (single live cluster) — keep that contract
      .filter($"add".isNotNull && $"bdd".isNotNull)
      .select($"vec_id", $"own",
        sqrt($"add").as("adist"), sqrt($"bdd").as("bdist"))
      .select($"vec_id", $"own".as("cid"),
        floor(($"bdist" - $"adist") / greatest($"adist", $"bdist") * 1e6)
          .cast("long").as("sil_x1e6"))
      .groupBy($"cid")
      .agg(count(lit(1)).as("n_pts"),
        floor(avg($"sil_x1e6")).cast("long").as("mean_sil_x1e6"),
        min($"sil_x1e6").as("min_sil"), max($"sil_x1e6").as("max_sil"))
      .orderBy($"cid")
  }

  /** The SemDeDup candidate stage (Abbas et al. 2023): k-means-cluster the
    * corpus, then score cosine ONLY for pairs sharing a cluster — the
    * cluster equi-join bounds the pair space to exactly Σ|cluster|·
    * (|cluster|−1)/2 rows (pinned by ScaleSpec), turning the O(n²) global
    * scan into something controlled by k. Returns every within-cluster
    * pair with its cosine; callers apply their own threshold.
    */
  private[graft] def semanticPairsScored(emb: DataFrame, seeds: Seq[Long],
                                         iters: Int): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    semanticPairsForAssign(emb,
      kmeansQuantized(emb, seeds, iters).select($"vec_id", $"cid"))
  }

  /** The pairing half of SemDeDup, given any (vec_id, cid) assignment:
    * equi-join both copies of the corpus on cid and score cosine for the
    * id1 < id2 pairs. Shuffle is 2 linear passes of the corpus keyed on
    * cid; output is Σ|cluster|·(|cluster|−1)/2 rows. (End-to-end SemDeDup
    * cost is assignment n·k plus this Σ|cluster|² term — the paper's
    * regime fixes cluster SIZE, scaling k with the corpus, which keeps
    * this half linear while the trade sits in the clustering half.)
    */
  private[graft] def semanticPairsForAssign(emb: DataFrame,
                                            assign: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val e = emb
      .select($"vec_id", $"embedding",
        sqrt(dot($"embedding", $"embedding")).as("nrm"))
      .join(assign, Seq("vec_id"))
    val a = e.select($"cid", $"vec_id".as("id1"), $"embedding".as("e1"),
      $"nrm".as("n1"))
    val b = e.select($"cid", $"vec_id".as("id2"), $"embedding".as("e2"),
      $"nrm".as("n2"))
    a.join(b, Seq("cid")).filter($"id1" < $"id2")
      .select($"cid", $"id1", $"id2",
        (dot($"e1", $"e2") / ($"n1" * $"n2")).as("cos"))
  }

  /** Shared sign-hyperplane LSH parameters: 32 Rademacher hyperplanes over
    * 64 dims, packed as 4 tables × 8 bits. Two vectors are candidates iff
    * they share any table's bucket (multi-table OR amplification); re-score
    * is exact cosine. The sign matrix is MD5-derived so the DuckDB oracle
    * rebuilds it exactly (see [[graft.functions.VectorExpressions.lshSigns]]).
    */
  private val LshPlanes = 32
  private val LshBits = 8
  private lazy val lshSignMatrix =
    graft.functions.VectorExpressions.lshSigns(LshPlanes, 64)

  private def lshTables(e: Column): Column =
    graft.functions.VectorExpressions.lshBuckets(e, lshSignMatrix, LshBits)

  /** Minimum exact-top-5 hits the PQ ANN answer must carry per query for
    * its `recall_ok` flag to read 1. The oracle pins the flag to a literal
    * 1, so the correctness gate FAILS outright if PQ recall ever drops
    * below this band — measured ≥4/5 for every query at sf0.001/0.01/0.1
    * on the synthetic corpus (PQ16×4 codebook, C=150 candidates); 3
    * leaves one hit of headroom without letting a broken encoder
    * (recall ~0-1, as the untuned 4×8 codebook measured) slip through.
    */
  private[graft] val PqRecallBand = 3

  /** Shared PII regexes (plain syntax that Java regex and RE2 interpret
    * identically, so the DuckDB oracle applies the same patterns).
    */
  private val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PiiIpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val PiiPhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** Mega-bucket cap — the one residual skew hazard at 100 TB: a
    * degenerate bucket (near-empty docs or zero-ish embeddings hashing
    * identically) would explode O(k²) pairs inside a single task. Buckets
    * larger than [[MaxBucketIds]] are dropped before pair generation; the
    * dropped-bucket count rides the plan as an `observe` metric
    * (`dropped_mega_buckets`) so production runs alert on it with no extra
    * job. The oracles apply the identical bound.
    */
  val MaxBucketIds = 64

  /** MinHash+LSH candidate pairs (id1 < id2, distinct): word-bigram
    * shingles → 8 salted-MD5 minhashes → 4 bands of 2 → capped-bucket
    * pair generation. Single pass: bands unpivot through one generator,
    * pairs explode inside each bucket group — the signature plan runs
    * once and the corpus never self-joins.
    */
  private def minhashCandidatePairs(s: SparkSession, d: String): DataFrame =
    minhashCandidatePairsFor(documents(s, d))

  /** Same pipeline over any (doc_id, text) frame — ScaleSpec's soak runs
    * it on synthetic corpora at two sizes to pin linear shuffle growth.
    */
  /** Word-bigram shingles of each ≥2-word doc: (doc_id, s). */
  private[graft] def bigramShingles(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // fanOutScan: the explode + 8 salted hashes downstream are CPU-bound
    // per row — spread a byte-small scan across the cores (no-op at scale)
    graft.operators.Scale.fanOutScan(docs)
      .select($"doc_id", words($"text").as("w"))
      .filter(size($"w") >= 2)
      .select($"doc_id",
        explode(transform(sequence(lit(1), size($"w") - 1),
          i => concat(element_at($"w", i), lit(" "), element_at($"w", i + 1))))
          .as("s"))
  }

  /** 8-permutation MinHash signature per doc: (doc_id, m0..m7 longs),
    * each mj the minimum of g_j = h1 + j·h2 over the doc's bigram
    * shingles, where (h1, h2) are the two leading 32-bit words of ONE
    * md5 per shingle (Kirsch–Mitzenmacher double hashing, the standard
    * way to derive k independent-enough hash functions from one digest
    * — salting the digest per permutation paid the md5 8×). Values stay
    * < 2³⁵, so the arithmetic is overflow-free in both engines.
    */
  private[graft] def minhashSigsFor(docs: DataFrame): DataFrame =
    minhashSigsFromShingles(bigramShingles(docs))

  /** Signature aggregation over an already-derived shingle table. */
  private[graft] def minhashSigsFromShingles(sh: DataFrame): DataFrame = {
    val s = sh.sparkSession
    import s.implicits._
    val h = md5($"s".cast("binary"))
    val hv = sh.select($"doc_id",
      conv(substring(h, 1, 8), 16, 10).cast("long").as("h1"),
      conv(substring(h, 9, 8), 16, 10).cast("long").as("h2"))
    val minCols = (0 until 8).map(j =>
      min($"h1" + lit(j.toLong) * $"h2").as(s"m$j"))
    hv.groupBy($"doc_id").agg(minCols.head, minCols.tail: _*)
  }

  private[graft] def minhashCandidatePairsFor(docs: DataFrame): DataFrame =
    minhashCandidatePairsFromSigs(minhashSigsFor(docs))

  /** Band-bucket candidate pairing from an already-computed signature
    * table — split out so callers that also need the signatures (the
    * sketch-accuracy audit) derive the shingle explode ONCE instead of
    * re-running it per consumer.
    */
  private[graft] def minhashCandidatePairsFromSigs(sig0: DataFrame): DataFrame = {
    val s = sig0.sparkSession
    import s.implicits._
    val sig = sig0
    // "|" separates the two long minhashes inside the band key — without
    // it (12, 345) and (123, 45) would collide into the same bucket
    val bands = sig.select($"doc_id", explode(array((0 until 4).map(b =>
      struct(lit(b).as("band"),
        md5(concat(col(s"m${2 * b}").cast("string"), lit("|"),
          col(s"m${2 * b + 1}").cast("string")).cast("binary"))
          .as("h"))): _*)).as("bh"))
      .select($"doc_id", $"bh.band", $"bh.h")
    capBuckets(bands.groupBy($"band", $"h")
      .agg(sort_array(collect_list($"doc_id")).as("ids")))
      .select(explode(flatten(transform($"ids", (x, i) =>
        transform(slice($"ids", i + 2, size($"ids")),
          y => struct(x.as("id1"), y.as("id2")))))).as("p"))
      .select($"p.id1", $"p.id2")
      .distinct()
  }

  private def capBuckets(grouped: DataFrame): DataFrame =
    grouped.observe("lsh_bucket_cap",
      sum(when(size(col("ids")) > MaxBucketIds, 1L).otherwise(0L))
        .as("dropped_mega_buckets"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= MaxBucketIds)

  /** Oracle-side mirror of the bucket construction (DuckDB SQL): integer-
    * quantized projection against MD5-derived ±1 weights, packed per table.
    */
  private val lshBucketsSql =
    s"""w AS (SELECT h, k,
           CASE WHEN substr(md5(CAST(h AS VARCHAR) || '_' || CAST(k AS VARCHAR)), 1, 1) >= '8'
             THEN 1 ELSE -1 END AS s
         FROM range(0, $LshPlanes) t1(h), range(0, 64) t2(k)),
       proj AS (SELECT e.vec_id, w.h,
           sum(w.s * CAST(floor(CAST(e.embedding[w.k + 1] AS DOUBLE) * 1000) AS BIGINT)) AS p
         FROM embeddings e, w GROUP BY 1, 2),
       bits AS (SELECT vec_id, CAST(h // $LshBits AS INT) AS tbl,
           CAST(sum(CASE WHEN p > 0 THEN (1 << (h % $LshBits)) ELSE 0 END) AS INT) AS bkt
         FROM proj GROUP BY 1, 2)"""

  /** Per-query top-k of a `(qid, vec_id, cos)` scored table through the
    * bounded-heap [[graft.operators.TopKAgg]] — map-side partials trim
    * every task to k rows per query BEFORE the exchange, where the
    * row_number-window form shuffles the full scored corpus per query
    * and sorts it on the reducer. Ordering is identical to
    * `row_number over (partition by qid order by cos desc, vec_id)`:
    * the heap's total order is (score desc, id asc). Returns
    * (qid, vec_id, cos, rnk ≤ k) with rnk 1-based.
    */
  private[queries] def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    import scored.sparkSession.implicits._
    scored.groupBy($"qid")
      .agg(graft.operators.TopKAgg.topKByScore($"cos", $"vec_id", k).as("top"))
      .select($"qid", posexplode($"top").as(Seq("i", "e")))
      .select($"qid", $"e.id".as("vec_id"), $"e.score".as("cos"),
        ($"i" + 1).cast("int").as("rnk"))
  }

  /** Exact brute-force cosine top-10 per query: the O(n·q) baseline the
    * ANN variants and the recall eval measure against. Returns
    * (qid, vec_id, cos, rnk ≤ 10).
    */
  private def annExactTop10(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = embeddings(s, d)
    val q = emb.filter($"vec_id".isin(0, 1, 2))
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val c = emb.filter(!$"vec_id".isin(0, 1, 2))
      .select($"vec_id", $"embedding".as("ce"))
    val scored = c.crossJoin(broadcast(q))
      .select($"qid", $"vec_id", cosine($"qe", $"ce").as("cos"))
    topKPerQuery(scored, 10)
  }

  /** Random-hyperplane LSH top-5 per query: bucket join on the plan-pinned
    * broadcast query side, exact cosine re-score of the candidates only.
    * Returns (qid, vec_id, cos, rnk ≤ 5).
    */
  private def annLshTop5(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = embeddings(s, d).select($"vec_id", $"embedding")
    // two consumers (query buckets, candidate side) — materialize the
    // 32-plane projection once instead of once per side
    val bucketed = emb.select($"vec_id",
      posexplode(lshTables($"embedding")).as(Seq("tbl", "bkt")))
      .localCheckpoint(false)
    val qb = bucketed.filter($"vec_id".isin(0, 1, 2))
      .select($"vec_id".as("qid"), $"tbl", $"bkt")
    val cand = bucketed.filter(!$"vec_id".isin(0, 1, 2))
      .join(broadcast(qb), Seq("tbl", "bkt"))
      .select($"qid", $"vec_id").distinct()
    val q = emb.select($"vec_id".as("qid"), $"embedding".as("qe"))
    val c = emb.select($"vec_id", $"embedding".as("ce"))
    val scored = cand.join(broadcast(q), "qid").join(c, "vec_id")
      .select($"qid", $"vec_id", cosine($"qe", $"ce").as("cos"))
    topKPerQuery(scored, 5)
  }

  /** Multi-probe LSH top-5 (Lv et al. 2007): the query side probes its
    * bucket plus the 8 one-bit-flip neighbors per table; candidates
    * re-score exactly. Returns (qid, vec_id, cos, rnk ≤ 5).
    */
  private def annLshMultiprobeTop5(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = embeddings(s, d).select($"vec_id", $"embedding")
    // two consumers (probed query buckets, candidate side) — materialize
    // the 32-plane projection once
    val bucketed = emb.select($"vec_id",
      posexplode(lshTables($"embedding")).as(Seq("tbl", "bkt")))
      .localCheckpoint(false)
    val flips = lit(0) +: (0 until 8).map(j => lit(1 << j))
    val qb = bucketed.filter($"vec_id".isin(0, 1, 2))
      .select($"vec_id".as("qid"), $"tbl",
        explode(array(flips.map(f => $"bkt".bitwiseXOR(f)): _*))
          .as("bkt"))
    val cand = bucketed.filter(!$"vec_id".isin(0, 1, 2))
      .join(broadcast(qb), Seq("tbl", "bkt"))
      .select($"qid", $"vec_id").distinct()
    val q = emb.select($"vec_id".as("qid"), $"embedding".as("qe"))
    val c = emb.select($"vec_id", $"embedding".as("ce"))
    val scored = cand.join(broadcast(q), "qid").join(c, "vec_id")
      .select($"qid", $"vec_id", cosine($"qe", $"ce").as("cos"))
    topKPerQuery(scored, 5)
  }

  /** IVF coarse-quantizer ANN top-5 (the v_ann_ivf pipeline): K=8
    * deterministic integer centroids, max-inner-product assignment,
    * nprobe=2 inverted-list probe, exact cosine re-score. Returns
    * (qid, vec_id, cos, rnk ≤ 5).
    */
  private def annIvfTop5(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val K = 8; val NProbe = 2; val TopK = 5
    val emb = embeddings(s, d).select($"vec_id", $"embedding")
    val dims = emb.select($"vec_id", ($"vec_id" % K).cast("int").as("grp"),
      posexplode($"embedding").as(Seq("k", "v")))
      .select($"vec_id", $"grp", $"k",
        floor($"v".cast("double") * 1000).cast("long").as("qv"))
    val cent = dims.groupBy($"grp", $"k").agg(sum($"qv").as("cs"))
      .select($"grp".as("cgrp"), $"k", $"cs")
    val scores = dims.join(broadcast(cent), Seq("k"))
      .groupBy($"vec_id", $"cgrp").agg(sum($"qv" * $"cs").as("ip"))
    // corpus-wide centroid assignment is a partial-aggregable argmax
    // (max ip, ties to the smaller cgrp), not a window — map-side combine
    // trims each task to one row per vector before the exchange; the
    // NProbe ranking only ever touches the 3 query vectors' K rows
    val assign = scores
      .groupBy($"vec_id").agg(max(struct($"ip", (-$"cgrp").as("ng"))).as("b"))
      .select($"vec_id", (-$"b.ng").cast("int").as("cgrp"))
    import org.apache.spark.sql.expressions.Window
    val byIp = Window.partitionBy($"vec_id").orderBy(desc("ip"), $"cgrp")
    val probe = scores.filter($"vec_id".isin(0, 1, 2))
      .withColumn("rk", row_number().over(byIp))
      .filter($"rk" <= NProbe)
      .select($"vec_id".as("qid"), $"cgrp")
    val cand = assign.filter(!$"vec_id".isin(0, 1, 2))
      .join(broadcast(probe), Seq("cgrp"))
      .select($"qid", $"vec_id").distinct()
    val q = emb.filter($"vec_id".isin(0, 1, 2))
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val c = emb.select($"vec_id", $"embedding".as("ce"))
    val scored = cand.join(broadcast(q), "qid").join(c, "vec_id")
      .select($"qid", $"vec_id", cosine($"qe", $"ce").as("cos"))
    topKPerQuery(scored, TopK)
  }

  /** Per-doc unigram-LM surprisal: corpus-frequency logprobs quantized
    * once (vocab-sized table), order-free integer per-doc sums. Returns
    * (doc_id, tokens, nll_x1e6, mean_nll_x1e6).
    */
  private def unigramNllPerDoc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the total token count derives from the vocab-sized frequency table
    // (the former third corpus-explode pass summed the same counts);
    // measured r19: fanOutScan/checkpointing the explode itself LOST
    // ~0.2 s — the plain tokenize+count combines map-side cheaper
    val docs = documents(s, d).filter(length(trim($"text")) > 0)
      .select($"doc_id", words($"text").as("w"))
    val toks = docs.select($"doc_id", explode($"w").as("term"))
    val cnt = toks.groupBy($"term").agg(count(lit(1)).as("cnt"))
    val tot = cnt.agg(sum($"cnt").as("n_tok"))
    val lp = cnt.crossJoin(broadcast(tot))
      .select($"term",
        floor(log($"cnt".cast("double") / $"n_tok".cast("double")) * 1e6)
          .cast("long").as("lq"))
    toks.join(lp, Seq("term"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("tokens"), (-sum($"lq")).as("nll_x1e6"))
      .withColumn("mean_nll_x1e6", expr("nll_x1e6 div tokens"))
  }

  /** Near-dup clusters over candidate pairs `(id1, id2)`: connected
    * components by large-star/small-star contraction
    * ([[graft.operators.Components.connectedComponents]]), so each doc's
    * cluster id is the smallest doc_id reachable through its edges. Docs
    * with no edge are their own singleton cluster. Returns
    * (doc_id, cluster_id, members) ordered by doc_id.
    */
  private[graft] def componentClusters(docIds: DataFrame,
                                       pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = graft.operators.Components.connectedComponents(
      pairs.select(col("id1").as("src"), col("id2").as("dst")))
      .withColumnRenamed("vertex", "doc_id")
    docIds.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
      .withColumn("members",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, Q] = Map(
    // Exact dedup: hash-groupBy, keep lowest doc_id per identical text
    "d_dedup_exact" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .groupBy(md5($"text".cast("binary")).as("h"))
        .agg(min($"doc_id").as("keeper"), count(lit(1)).as("copies"))
        .orderBy($"h")
    }),

    // MinHash + LSH near-dup candidate pairs: word-bigram shingles →
    // 8 salted-MD5 minhashes → 4 bands of 2 → bucket join
    "d_minhash_lsh" -> ((s, d) =>
      minhashCandidatePairs(s, d).orderBy(col("id1"), col("id2"))),

    // Near-dup CLUSTERS: connected components over the MinHash candidate
    // pairs (each doc's cluster id = smallest doc_id reachable through
    // near-dup edges), by large-star/small-star contraction — O(log² n)
    // rounds on any graph shape, each round a checkpointed groupBy/join.
    // The oracle walks the same edges with a recursive CTE.
    "d_dedup_clusters" -> ((s, d) =>
      componentClusters(documents(s, d), minhashCandidatePairs(s, d))),

    // Same clusters, same recursive-CTE oracle: star contraction is the
    // one components path, and this name pins it as d_dedup_clusters does.
    "d_dedup_clusters_star" -> ((s, d) =>
      componentClusters(documents(s, d), minhashCandidatePairs(s, d))),

    // n-gram (word-set) Jaccard similarity over a bounded id range —
    // exact-recall SCALE shape: prefix filtering (the SSJoin/PPJoin
    // principle) generates candidates from an inverted-index EQUI-join
    // over each doc's first |w| - ceil(t·|w|) + 1 tokens in a global
    // token order (a pair with J >= t MUST share one of them — recall is
    // exact, not probabilistic), then the exact Jaccard re-score runs on
    // candidates only. No all-pairs theta-join anywhere (plan-pinned);
    // the oracle rows are identical to the former bounded all-pairs form.
    "d_ngram_jaccard" -> ((s, d) => {
      import s.implicits._
      // t slightly under 0.3: the gate filter is on the ROUNDED
      // jac_x10000 >= 3000, which admits true Jaccard down to 0.29995
      val t = 0.2999
      val docs = documents(s, d).filter($"doc_id" < 60)
        .select($"doc_id", array_sort(array_distinct(words($"text"))).as("w"))
      val pref = docs.select($"doc_id", explode(slice($"w", lit(1),
        (size($"w") - ceil(lit(t) * size($"w")) + 1).cast("int"))).as("tok"))
      val cand = pref.select($"tok", $"doc_id".as("id1"))
        .join(pref.select($"tok", $"doc_id".as("id2")), Seq("tok"))
        .filter($"id1" < $"id2")
        .select($"id1", $"id2").distinct()
      cand
        .join(docs.select($"doc_id".as("id1"), $"w".as("w1")), Seq("id1"))
        .join(docs.select($"doc_id".as("id2"), $"w".as("w2")), Seq("id2"))
        .select($"id1", $"id2",
          size(array_intersect($"w1", $"w2")).as("inter"),
          (size($"w1") + size($"w2") - size(array_intersect($"w1", $"w2"))).as("uni"))
        .select($"id1", $"id2",
          floor(lit(10000.0) * $"inter" / $"uni" + 0.5).cast("long").as("jac_x10000"))
        .filter($"jac_x10000" >= 3000)
        .orderBy($"id1", $"id2")
    }),

    // SimHash (16-bit, nibble-high-bit construction) document fingerprints
    "d_simhash" -> ((s, d) => {
      import s.implicits._
      simhashFp(s, d, bits = 16).select($"doc_id", $"fp".as("simhash"))
        .orderBy($"doc_id")
    }),

    // SimHash near-dup pairing: banded Hamming LSH over a 32-bit
    // fingerprint (all 32 md5 nibbles — the 16-bit L4 demo fingerprint
    // collides massively at corpus scale) — docs sharing any 8-bit band
    // become candidates via a plain equi-join on (band, byte), then
    // exact popcount filters to Hamming <= 1 of 32. The 100 TB upgrade
    // is a 64-bit fingerprint plus the mega-bucket cap d_minhash_lsh
    // carries; the join shape is already the scale shape
    "d_simhash_neardup" -> ((s, d) => {
      import s.implicits._
      // two consumers (both sides of the band self-join) — materialize
      // the fingerprint+band table once instead of running the per-word
      // md5 simhash pass twice
      val banded = simhashFp(s, d, bits = 32).select($"doc_id", $"fp",
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            (shiftright($"fp", 8 * b) % 256).cast("int").as("byte"))): _*)).as("e"))
        .select($"doc_id", $"fp", $"e.band".as("band"), $"e.byte".as("byte"))
        .localCheckpoint(false)
      val a = banded.select($"band", $"byte", $"doc_id".as("id1"), $"fp".as("fp1"))
      val c = banded.select($"band", $"byte", $"doc_id".as("id2"), $"fp".as("fp2"))
      a.join(c, Seq("band", "byte")).filter($"id1" < $"id2")
        .select($"id1", $"id2",
          bit_count($"fp1".bitwiseXOR($"fp2")).as("hamming"))
        // filter BEFORE distinct: hamming is a function of the pair, so
        // the dedup shuffle carries only surviving near-dups, not the
        // whole candidate set
        .filter($"hamming" <= 1)
        .distinct()
        .orderBy($"id1", $"id2")
    }),

    // Document fingerprint: whitespace-normalized MD5
    "d_fingerprint" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .select($"doc_id",
          md5(lower(trim(regexp_replace($"text", " +", " "))).cast("binary")).as("fp"))
        .orderBy($"doc_id")
    }),

    // Text analysis: token counts, distinct tokens, stopword hits, vowels
    "x_text_stats" -> ((s, d) => {
      import s.implicits._
      val stop = Seq("the", "a", "data", "row", "join")
      documents(s, d).filter(length(trim($"text")) > 0)
        .select($"doc_id", words($"text").as("w"), $"text")
        .select($"doc_id",
          size($"w").as("tokens"),
          size(array_distinct($"w")).as("distinct_tokens"),
          size(filter($"w", x => x.isin(stop: _*))).as("stop_hits"),
          (length($"text") - length(regexp_replace($"text", "[aeiou]", ""))).as("vowels"),
          length($"text").as("chars"))
        .orderBy($"doc_id")
    }),

    // Language ID: stopword-scoring heuristic (same rule in the oracle)
    "x_langid" -> ((s, d) => {
      import s.implicits._
      def hits(w: Column, xs: Seq[String]): Column =
        size(filter(w, x => x.isin(xs: _*)))
      documents(s, d)
        .select($"doc_id", words($"text").as("w"))
        .select($"doc_id",
          hits($"w", Seq("the", "a", "of", "and")).as("s_en"),
          hits($"w", Seq("el", "la", "de", "y")).as("s_es"),
          hits($"w", Seq("der", "die", "das", "und")).as("s_de"))
        .select($"doc_id",
          when($"s_en" >= $"s_es" && $"s_en" >= $"s_de", "en")
            .when($"s_es" >= $"s_de", "es")
            .otherwise("de").as("pred_lang"),
          $"s_en", $"s_es", $"s_de")
        .orderBy($"doc_id")
    }),

    // Embedding-cosine near-duplicate pairs (dedup family): all pairs
    // above threshold, broadcast self-join + sequential-fold dot product
    "d_embed_neardup" -> ((s, d) => {
      import s.implicits._
      // precompute each vector's norm once; pairs then cost one dot each
      val emb = embeddings(s, d)
        .select($"vec_id", $"embedding", sqrt(dot($"embedding", $"embedding")).as("nrm"))
      val a = emb.select($"vec_id".as("id1"), $"embedding".as("e1"), $"nrm".as("n1"))
      val b = emb.select($"vec_id".as("id2"), $"embedding".as("e2"), $"nrm".as("n2"))
      a.join(b, $"id1" < $"id2")
        .select($"id1", $"id2", (dot($"e1", $"e2") / ($"n1" * $"n2")).as("cos"))
        .filter($"cos" >= 0.45)
        .select($"id1", $"id2",
          floor($"cos" * 10000 + 0.5).cast("long").as("score_x10000"))
        .orderBy($"id1", $"id2")
    }),

    // Embedding near-dup, LSH-bucketed (the 100 TB path): sign-hyperplane
    // candidates + exact cosine re-score. Replaces the O(n²) all-pairs join
    // with shuffle-partitioned equi-joins: bucket-group pair generation
    // (like d_minhash_lsh) then two hash joins back to embeddings — no
    // BroadcastNestedLoopJoin anywhere in the plan (PlanQualitySpec pins
    // this). d_embed_neardup stays as the exact small-N baseline.
    "d_embed_neardup_lsh" -> ((s, d) => {
      import s.implicits._
      val emb = embeddings(s, d).select($"vec_id", $"embedding")
      val bucketed = emb.select($"vec_id",
        posexplode(lshTables($"embedding")).as(Seq("tbl", "bkt")))
      val cand = capBuckets(bucketed.groupBy($"tbl", $"bkt")
        .agg(sort_array(collect_list($"vec_id")).as("ids")))
        .select(explode(flatten(transform($"ids", (x, i) =>
          transform(slice($"ids", i + 2, size($"ids")),
            y => struct(x.as("id1"), y.as("id2")))))).as("p"))
        .select($"p.id1", $"p.id2")
        .distinct()
      val e1 = emb.select($"vec_id".as("id1"), $"embedding".as("e1"))
      val e2 = emb.select($"vec_id".as("id2"), $"embedding".as("e2"))
      cand.join(e1, "id1").join(e2, "id2")
        .select($"id1", $"id2", cosine($"e1", $"e2").as("cos"))
        .filter($"cos" >= 0.45)
        .select($"id1", $"id2",
          floor($"cos" * 10000 + 0.5).cast("long").as("score_x10000"))
        .orderBy($"id1", $"id2")
    }),

    // Cluster-quality evaluation for the k-means path (the published
    // index-health number, like v_recall_eval for ANN): simplified
    // silhouette per point — a = distance to the own final centroid,
    // b = min distance to any other — aggregated per cluster. Distances
    // reuse the kmeans integer recipe (n²·qq − 2n·ip + ss over ×1000
    // quantized dims), so the only FP ops are the final sqrt/divide,
    // floor-quantized ×1e6. Scale shape: centroids re-derive from the
    // final assignment with one partial agg; the k-row centroid table
    // broadcasts; per-point work is one scan — no pairwise distances
    // anywhere.
    "v_cluster_silhouette" -> ((s, d) =>
      clusterSilhouette(embeddings(s, d), Seq(1L, 5L, 9L, 13L), iters = 2)),

    // k-NN graph construction (the precursor of graph-based dedup and
    // semantic clustering): every vector's top-3 neighbors among its
    // LSH-candidate set — the SAME capped-bucket pair machinery as
    // d_embed_neardup_lsh (pair space bounded by Σ|bucket|², never a
    // corpus self-join), symmetrized, then ranked per node by exact
    // cosine. The ranking window partitions BY NODE; at 100 TB the
    // per-node candidate lists stay bucket-bounded, so no partition
    // outgrows its task.
    "v_knn_graph" -> ((s, d) => {
      import s.implicits._
      val emb = embeddings(s, d).select($"vec_id", $"embedding")
      val bucketed = emb.select($"vec_id",
        posexplode(lshTables($"embedding")).as(Seq("tbl", "bkt")))
      val cand = capBuckets(bucketed.groupBy($"tbl", $"bkt")
        .agg(sort_array(collect_list($"vec_id")).as("ids")))
        .select(explode(flatten(transform($"ids", (x, i) =>
          transform(slice($"ids", i + 2, size($"ids")),
            y => struct(x.as("id1"), y.as("id2")))))).as("p"))
        .select($"p.id1", $"p.id2")
        .distinct()
      val e1 = emb.select($"vec_id".as("id1"), $"embedding".as("e1"))
      val e2 = emb.select($"vec_id".as("id2"), $"embedding".as("e2"))
      val scored = cand.join(e1, "id1").join(e2, "id2")
        .select($"id1", $"id2", cosine($"e1", $"e2").as("cos"))
      val sym = scored.select($"id1".as("node"), $"id2".as("nbr"), $"cos")
        .union(scored.select($"id2".as("node"), $"id1".as("nbr"), $"cos"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"node").orderBy(desc("cos"), $"nbr")
      sym.withColumn("rnk", row_number().over(w)).filter($"rnk" <= 3)
        .select($"node", $"nbr",
          floor($"cos" * 10000 + 0.5).cast("long").as("score_x10000"), $"rnk")
        .orderBy($"node", $"rnk")
    }),

    // BPE-ish tokenization: regex token classes (letters / digit / other)
    "x_bpe_tokens" -> ((s, d) => {
      import s.implicits._
      documents(s, d)
        .select($"doc_id",
          size(regexp_extract_all($"text",
            lit("[a-z]+|[A-Z]+|[0-9]|[^A-Za-z0-9 ]"), lit(0))).as("bpe_tokens"),
          size(regexp_extract_all($"text", lit("[a-z]+"), lit(0))).as("word_tokens"))
        .orderBy($"doc_id")
    }),

    // BPE merge-learning, 2 rounds — see [[bpeLearn]].
    "x_bpe_learn" -> ((s, d) => bpeLearn(documents(s, d), rounds = 2)),

    // BPE tokenization via the learned vocabulary table — see [[bpeApply]].
    "x_bpe_apply" -> ((s, d) => bpeApply(documents(s, d), rounds = 2)),

    // PII scrubbing: deterministic synthetic PII (email, IPv4, phone) is
    // appended to each document, then redacted with the shared regexes;
    // match counts and the MD5 of the redacted text pin the rewrite
    "x_pii_scrub" -> ((s, d) => {
      import s.implicits._
      // fanOutScan: three regex rewrites + three regex extracts per doc
      // off a one-split scan (no-op at scale)
      val doc = graft.operators.Scale.fanOutScan(documents(s, d))
        .select($"doc_id",
        concat($"text", lit(" contact user"), $"doc_id",
          lit("@example.com via 10.0."), ($"doc_id" % 256),
          lit(".7 or "), lpad(($"doc_id" % 1000).cast("string"), 3, "0"),
          lit("-555-0199")).as("t"))
      val scrubbed = doc.select($"doc_id",
        regexp_replace(
          regexp_replace(
            regexp_replace($"t", PiiEmailRe, "<EMAIL>"),
            PiiIpRe, "<IP>"),
          PiiPhoneRe, "<PHONE>").as("red"),
        size(regexp_extract_all($"t", lit(PiiEmailRe), lit(0))).as("n_email"),
        size(regexp_extract_all($"t", lit(PiiIpRe), lit(0))).as("n_ip"))
      scrubbed.select($"doc_id", $"n_email", $"n_ip",
          size(regexp_extract_all($"red", lit("<PHONE>"), lit(0))).as("n_phone"),
          md5($"red".cast("binary")).as("red_md5"))
        .orderBy($"doc_id")
    }),

    // Brute-force cosine top-k (exact ANN baseline): 3 query vectors vs all
    "v_ann_cosine" -> ((s, d) =>
      annExactTop10(s, d)
        .select(col("qid"), col("vec_id"),
          floor(col("cos") * 10000 + 0.5).cast("long").as("score_x10000"),
          col("rnk"))
        .orderBy(col("qid"), col("rnk"))),

    // Hard-negative mining for contrastive training: per query vector,
    // the top-5 most similar vectors with a DIFFERENT class label — the
    // nearest wrong-class examples a triplet/InfoNCE trainer wants. Same
    // broadcast-query scan shape as the exact ANN baseline, with the
    // label inequality pushed into the scoring filter so same-class
    // candidates never score, and the v_ann_topk bounded-heap selection
    // (map-side trim to k per partition — a per-qid window would funnel
    // each query's whole candidate set through one task at scale).
    "x_hard_negatives" -> ((s, d) => {
      import s.implicits._
      val emb = embeddings(s, d)
      val q = emb.filter($"vec_id".isin(0, 1, 2))
        .select($"vec_id".as("qid"), $"embedding".as("qe"),
          $"label".as("qlabel"))
      val c = emb.filter(!$"vec_id".isin(0, 1, 2))
        .select($"vec_id", $"embedding".as("ce"), $"label")
      val scored = c.crossJoin(broadcast(q))
        .filter($"label" =!= $"qlabel")
        .select($"qid", $"vec_id", cosine($"qe", $"ce").as("cos"))
      scored.groupBy($"qid")
        .agg(graft.operators.TopKAgg.topKByScore($"cos", $"vec_id", 5)
          .as("top"))
        .select($"qid", posexplode($"top").as(Seq("i", "e")))
        .select($"qid", $"e.id".as("vec_id"),
          floor($"e.score" * 10000 + 0.5).cast("long").as("score_x10000"),
          ($"i" + 1).cast("int").as("rnk"))
        .orderBy($"qid", $"rnk")
    }),

    // Brute-force cosine top-k again, but through the bounded-heap
    // TopKAgg instead of a window sort: map-side partials trim every
    // partition to k rows before the shuffle, so the exchange carries
    // O(k · partitions) per query instead of the whole scored corpus —
    // the aggregation shape ANN re-scoring needs at 100 TB. Same rows as
    // v_ann_cosine (same oracle SQL), rank from array position.
    "v_ann_topk" -> ((s, d) => {
      import s.implicits._
      val emb = embeddings(s, d)
      val q = emb.filter($"vec_id".isin(0, 1, 2))
        .select($"vec_id".as("qid"), $"embedding".as("qe"))
      val c = emb.filter(!$"vec_id".isin(0, 1, 2))
        .select($"vec_id", $"embedding".as("ce"))
      val scored = c.crossJoin(broadcast(q))
        .select($"qid", $"vec_id", cosine($"qe", $"ce").as("cos"))
      scored.groupBy($"qid")
        .agg(graft.operators.TopKAgg.topKByScore($"cos", $"vec_id", 10).as("top"))
        .select($"qid", posexplode($"top").as(Seq("i", "e")))
        .select($"qid", $"e.id".as("vec_id"),
          floor($"e.score" * 10000 + 0.5).cast("long").as("score_x10000"),
          ($"i" + 1).cast("int").as("rnk"))
        .orderBy($"qid", $"rnk")
    }),

    // IVF ANN (coarse-quantizer scale path): K deterministic centroids
    // (integer-quantized dim sums over vec_id % K seed groups — summation-
    // order-free, so the oracle rebuilds them exactly), every vector
    // assigned to its max-inner-product centroid, queries probe the
    // nprobe=2 best inverted lists, exact cosine re-score inside them.
    // All joins are broadcast-hash against the K×64-row centroid table —
    // at 100 TB the corpus is touched by one explode + one hash agg and
    // never self-joins.
    "v_ann_ivf" -> ((s, d) => {
      import s.implicits._
      annIvfTop5(s, d)
        .select($"qid", $"vec_id",
          floor($"cos" * 10000 + 0.5).cast("long").as("score_x10000"), $"rnk")
        .orderBy($"qid", $"rnk")
    }),

    // IVF recall evaluation — the published index-quality table for the
    // coarse-quantizer path, completing the ANN eval suite next to the
    // LSH one (`v_recall_eval`): recall@5 + top-1 hit vs exact
    // brute-force top-5 per query.
    "v_recall_eval_ivf" -> ((s, d) => {
      import s.implicits._
      val ivf = annIvfTop5(s, d).select($"qid", $"vec_id",
        $"rnk".as("ivf_rnk"))
      val ex = annExactTop10(s, d).filter($"rnk" <= 5)
        .select($"qid", $"vec_id", $"rnk".as("ex_rnk"))
      val hits = ivf.join(ex, Seq("qid", "vec_id"))
        .groupBy($"qid")
        .agg(count(lit(1)).as("hits"),
          min(when($"ex_rnk" === 1, $"ivf_rnk")).as("top1_at"))
      ex.select($"qid").distinct()
        .join(hits, Seq("qid"), "left")
        .select($"qid", coalesce($"hits", lit(0L)).as("hits"),
          (coalesce($"hits", lit(0L)) * 20).as("recall_x100"),
          $"top1_at".isNotNull.cast("long").as("top1_hit"))
        .orderBy($"qid")
    }),

    // Filtered vector search — the pre-filter/post-filter semantics
    // question every vector store faces: top-3 same-label neighbors by
    // (a) PRE-filtering candidates to the label before ranking (exact
    // answer; the filter prunes the scan) vs (b) ranking globally
    // top-10 then filtering (cheaper per probe but can return FEWER
    // than k — the recall hole this gate makes visible: both
    // strategies' rows sit side by side, post-filter rows only where
    // the label survived the global top-10). Broadcast query side,
    // candidates never self-join.
    "v_ann_filtered" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val emb = embeddings(s, d)
      val q = emb.filter($"vec_id".isin(0, 1, 2))
        .select($"vec_id".as("qid"), $"label".as("qlabel"),
          $"embedding".as("qe"))
      val c = emb.filter(!$"vec_id".isin(0, 1, 2))
        .select($"vec_id", $"label", $"embedding".as("ce"))
      val scored = c.crossJoin(broadcast(q))
        .select($"qid", $"qlabel", $"vec_id", $"label",
          cosine($"qe", $"ce").as("cos"))
        .localCheckpoint(false)
      // both strategies heap-select from the corpus-sized scored table
      // (map-side trim to k before any exchange); the only window left
      // runs over the ≤10-row post-filter survivors
      val pre = topKPerQuery(
          scored.filter($"label" === $"qlabel")
            .select($"qid", $"vec_id", $"cos"), 3)
        .select($"qid", lit("prefilter").as("strategy"), $"rnk",
          $"vec_id", floor($"cos" * 10000 + 0.5).cast("long")
            .as("score_x10000"))
      val wLbl = Window.partitionBy($"qid").orderBy(desc("cos"), $"vec_id")
      // labels rejoin from the CHECKPOINTED scored table (top-10 side
      // broadcasts), so neither strategy touches parquet again
      val post = broadcast(topKPerQuery(
          scored.select($"qid", $"vec_id", $"cos"), 10)
          .select($"qid", $"vec_id", $"rnk"))
        .join(scored.select($"qid", $"vec_id", $"cos", $"label", $"qlabel"),
          Seq("qid", "vec_id"))
        .filter($"label" === $"qlabel")
        .withColumn("rnk", row_number().over(wLbl))
        .filter($"rnk" <= 3)
        .select($"qid", lit("postfilter").as("strategy"), $"rnk",
          $"vec_id", floor($"cos" * 10000 + 0.5).cast("long")
            .as("score_x10000"))
      pre.unionByName(post).orderBy($"qid", $"strategy", $"rnk")
    }),

    // Margin-based bitext mining (Artetxe & Schwenk 2019, the CCMatrix
    // recipe): for each English doc, the best other-language candidate
    // by cosine, ACCEPTED only when it beats the mean of the top-4
    // scores by the margin ratio (×10000 integer) — absolute-cosine
    // thresholds are miscalibrated across languages, the margin is
    // not. Language labels ride the doc↔vector id alignment; the
    // query side broadcasts, candidates rank per query in one window
    // over the scored table.
    "x_bitext_mine" -> ((s, d) => {
      import s.implicits._
      val langs = documents(s, d).select($"doc_id", $"lang")
      val vecs = embeddings(s, d)
        .join(langs, $"vec_id" === $"doc_id")
        .select($"vec_id", $"lang", $"embedding")
      val en = vecs.filter($"lang" === "en")
        .select($"vec_id".as("qid"), $"embedding".as("qe"))
      val cand = vecs.filter($"lang" =!= "en")
        .select($"vec_id", $"lang", $"embedding".as("ce"))
      val scored = cand.crossJoin(broadcast(en))
        .select($"qid", $"vec_id", $"lang", cosine($"qe", $"ce").as("cos"))
      // per-query top-4 through the bounded heap — map-side partials trim
      // each task to 4 rows/query before the exchange (same (cos desc,
      // vec_id asc) order the old row_number window used, which shuffled
      // the full |non-en|×|en| scored table); candidate langs rejoin on
      // the 4-rows-per-query result, not the cross product
      val top4 = topKPerQuery(scored.select($"qid", $"vec_id", $"cos"), 4)
        .drop("rnk")
        .join(langs.select($"doc_id".as("vec_id"), $"lang"), "vec_id")
      top4.groupBy($"qid")
        .agg(max(struct($"cos", (-$"vec_id").as("negid"), $"lang"))
            .as("best"),
          sum($"cos").as("s4"), count(lit(1)).as("n4"))
        .select($"qid", (-$"best.negid").as("match_id"),
          $"best.lang".as("match_lang"),
          floor($"best.cos" * 10000 + 0.5).cast("long").as("cos_x10000"),
          floor($"best.cos" * $"n4" * 10000 / $"s4").cast("long")
            .as("margin_x10000"))
        .withColumn("accepted",
          when($"margin_x10000" >= 10600, 1L).otherwise(0L))
        .filter($"accepted" === 1)
        .orderBy($"qid")
    }),

    // MMR diversified re-ranking (Carbonell & Goldstein 1998): greedy
    // selection of 5 from the cosine top-15, each round's score =
    // 2·rel − max-sim-to-selected in ×10000 integers (the λ=0.5
    // trade-off with denominators cleared). The candidate set is
    // k-BOUNDED before the quadratic part begins: relevance and the
    // 15×15 similarity table compute once (checkpointed), and each
    // greedy round is a keyed aggregate + 1-row pick — the unbounded
    // corpus is touched exactly once, by the top-15 cut.
    "x_mmr_diversify" -> ((s, d) => {
      import s.implicits._
      val emb = embeddings(s, d)
      val q = emb.filter($"vec_id" === 0).select($"embedding".as("qe"))
      val top = emb.filter($"vec_id" =!= 0)
        .crossJoin(broadcast(q))
        .select($"vec_id", $"embedding",
          floor(cosine($"qe", $"embedding") * 10000 + 0.5).cast("long")
            .as("rel"))
        .orderBy($"rel".desc, $"vec_id").limit(15)
        .localCheckpoint(false)
      val a = top.select($"vec_id".as("a"), $"embedding".as("ea"))
      val b = top.select($"vec_id".as("b"), $"embedding".as("eb"))
      val sims = a.join(b, $"a" =!= $"b")
        .select($"a", $"b",
          floor(cosine($"ea", $"eb") * 10000 + 0.5).cast("long").as("sim"))
        .localCheckpoint(false)
      val base = top.select($"vec_id", $"rel")
      var selected = base
        .orderBy($"rel".desc, $"vec_id").limit(1)
        .select($"vec_id", lit(1L).as("rnk"), ($"rel" * 2).as("mmr_x10000"))
        .localCheckpoint(false)
      for (k <- 2 to 5) {
        val pick = base
          .join(selected.select($"vec_id"), Seq("vec_id"), "left_anti")
          .join(sims, $"vec_id" === $"a")
          .join(selected.select($"vec_id".as("b")), Seq("b"), "left_semi")
          .groupBy($"vec_id", $"rel").agg(max($"sim").as("ms"))
          .select($"vec_id", lit(k.toLong).as("rnk"),
            ($"rel" * 2 - $"ms").as("mmr_x10000"))
          .orderBy($"mmr_x10000".desc, $"vec_id").limit(1)
        selected = selected.union(pick).localCheckpoint(false)
      }
      selected.orderBy($"rnk")
    }),

    // Hybrid retrieval by reciprocal-rank fusion (RRF, Cormack 2009 —
    // the standard lexical+vector fusion): BM25 top-15 and embedding-
    // cosine top-15 (vec_id aligns with doc_id) fuse as
    // Σ 1e6 div (60 + rank) in EXACT integer arithmetic; a doc absent
    // from one ranking contributes 0 from that side. Both ranked lists
    // are k-bounded before any window touches them, so the fusion cost
    // is O(k), independent of corpus size.
    "x_hybrid_rrf" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val bmTop = bm25Search(documents(s, d),
        Seq("hash", "join", "batch"), k = 15).localCheckpoint(false)
      val wBm = Window.orderBy(desc("score"), $"doc_id")
      val bmr = bmTop.withColumn("r_bm", row_number().over(wBm))
        .select($"doc_id", $"r_bm")
      val emb = embeddings(s, d)
      val q = emb.filter($"vec_id" === 0)
        .select($"embedding".as("qe"))
      val scored = emb.filter($"vec_id" =!= 0)
        .crossJoin(broadcast(q))
        .select($"vec_id".as("doc_id"), cosine($"qe", $"embedding").as("cos"))
        .orderBy(desc("cos"), $"doc_id").limit(15)
        .localCheckpoint(false)
      val wV = Window.orderBy(desc("cos"), $"doc_id")
      val vr = scored.withColumn("r_vec", row_number().over(wV))
        .select($"doc_id", $"r_vec")
      bmr.join(vr, Seq("doc_id"), "full_outer")
        .select($"doc_id",
          coalesce($"r_bm", lit(0L)).cast("long").as("r_bm"),
          coalesce($"r_vec", lit(0L)).cast("long").as("r_vec"),
          (coalesce(expr("1000000 div (60 + r_bm)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + r_vec)"), lit(0L)))
            .as("rrf_x1e6"))
        .orderBy($"rrf_x1e6".desc, $"doc_id")
        .limit(10)
    }),

    // Best-snippet extraction (search UX): among a doc's query-term
    // positions, the 10-token window holding the most hits — the hit
    // count per candidate start is a RANGE frame over positions (only
    // term-hit rows ever enter the window), and the best start resolves
    // by a window-free max(struct) argmax. Work is proportional to
    // term hits, not document length.
    "x_snippet_extract" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val hits = documents(s, d).filter(length(trim($"text")) > 0)
        .select($"doc_id", posexplode(words($"text")).as(Seq("pos", "tk")))
        .filter($"tk".isin("hash", "join", "batch"))
      val wr = Window.partitionBy($"doc_id").orderBy($"pos")
        .rangeBetween(0, 9)
      hits
        .withColumn("win_hits", count(lit(1)).over(wr))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_hits"),
          max(struct($"win_hits", (-$"pos").as("negp"))).as("best"))
        .filter($"n_hits" >= 2)
        .select($"doc_id", $"n_hits", $"best.win_hits".as("best_win_hits"),
          (-$"best.negp").cast("long").as("best_start"))
        .orderBy($"doc_id")
    }),

    // Late-interaction retrieval (ColBERT MaxSim, Khattab 2020): docs
    // are MULTI-vector (4 token vectors each — vec_id div 4 groups the
    // flat table); score(D) = Σ_q max_{t∈D} cos(q, t). The shape is
    // two partial-aggregable levels — per (doc, query-token) max, then
    // per-doc sum — over a broadcast of the query's token vectors;
    // token count per doc bounds the fan-out, and nothing ever
    // self-joins the corpus.
    "v_maxsim_retrieval" -> ((s, d) => {
      import s.implicits._
      val toks = embeddings(s, d)
        .select(expr("vec_id div 4").as("doc"), $"vec_id", $"embedding")
      val q = toks.filter($"doc" === 0)
        .select($"vec_id".as("qvid"), $"embedding".as("qe"))
      val cand = toks.filter($"doc" =!= 0)
        .select($"doc", $"embedding".as("ce"))
      cand.crossJoin(broadcast(q))
        .select($"doc", $"qvid", cosine($"qe", $"ce").as("cos"))
        .groupBy($"doc", $"qvid").agg(max($"cos").as("mx"))
        .groupBy($"doc")
        .agg(floor(sum($"mx") * 10000 + 0.5).cast("long")
          .as("maxsim_x10000"))
        .orderBy($"maxsim_x10000".desc, $"doc")
        .limit(5)
    }),

    // Matryoshka-prefix retrieval eval (Kusupati et al. 2022): rank by
    // cosine over only the FIRST 16 of 64 dims — the truncated-embedding
    // scale path (4× less dot-product compute and index memory; a real
    // MRL deployment prunes with the prefix and re-scores survivors
    // with the full vector) — and score its top-5 against the full-dim
    // exact top-5. Completes the ANN eval table: LSH, IVF, PQ, MRL.
    "v_recall_eval_mrl" -> ((s, d) => {
      import s.implicits._
      val emb = embeddings(s, d)
      val qp = emb.filter($"vec_id".isin(0, 1, 2))
        .select($"vec_id".as("qid"), slice($"embedding", 1, 16).as("qe"))
      val cp = emb.filter(!$"vec_id".isin(0, 1, 2))
        .select($"vec_id", slice($"embedding", 1, 16).as("ce"))
      val scored = cp.crossJoin(broadcast(qp))
        .select($"qid", $"vec_id", cosine($"qe", $"ce").as("cos"))
      val mrl = topKPerQuery(scored, 5)
        .select($"qid", $"vec_id", $"rnk".as("mrl_rnk"))
      val ex = annExactTop10(s, d).filter($"rnk" <= 5)
        .select($"qid", $"vec_id", $"rnk".as("ex_rnk"))
      val hits = mrl.join(ex, Seq("qid", "vec_id"))
        .groupBy($"qid")
        .agg(count(lit(1)).as("hits"),
          min(when($"ex_rnk" === 1, $"mrl_rnk")).as("top1_at"))
      ex.select($"qid").distinct()
        .join(hits, Seq("qid"), "left")
        .select($"qid", coalesce($"hits", lit(0L)).as("hits"),
          (coalesce($"hits", lit(0L)) * 20).as("recall_x100"),
          $"top1_at".isNotNull.cast("long").as("top1_hit"))
        .orderBy($"qid")
    }),

    // Product-quantization ANN (Jégou et al. 2011, the memory-bound
    // scale path): 64 dims split into M=16 subspaces of 4 (the classic
    // PQ16 64-bit code); per subspace, K=16 codewords built as
    // quantized-dim sums over FIXED 16-vector seed blocks — constant
    // block size G means the codeword count divides out of every
    // comparison, so encoding minimizes the pure integer ss − 2G·ip
    // (no division anywhere) and the ADC score is an order-free integer
    // sum of M per-subspace inner products. Queries score the whole
    // corpus through its 4-bit-per-subspace codes (the PQ promise:
    // candidates never touch the raw vectors), top-C by ADC via the
    // bounded-heap TopKAgg (map-side partials trim to C before the
    // shuffle), exact cosine re-score on candidates only. The codebook
    // (1024 rows), its stats (256) and the query table all broadcast;
    // the corpus sees one explode and partial-aggregated hash shuffles —
    // never a self-join. Config tuned on the synthetic corpus: recall@5
    // vs exact is ≥4/5 for every query at sf0.001/0.01/0.1 (the
    // recall_ok audit below gates it at [[PqRecallBand]]).
    "v_ann_pq" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val G = 16; val K = 16; val C = 150; val TopK = 5
      val emb = embeddings(s, d).select($"vec_id", $"embedding")
      // localCheckpoint materializes the exploded dims ONCE for its two
      // consumers (codebook filter, ip join); without it the optimizer
      // pushes each consumer's vec_id filter below the explode and plans
      // one explode per consumer. A checkpoint reports no partitioning,
      // so ip, codes and adc each hash-shuffle on their own keys; the
      // final plan has 9 exchanges (PlanQualitySpec pins the count). A
      // repartition(vec_id) before the checkpoint (r20) was one more
      // full shuffle that no aggregate used: dropping it read no slower
      // in paired A/B runs (plans/v_ann_pq/ab_sweeps.txt). persist
      // would carry the partitioning, but a query hands back a lazy
      // frame with no point at which to unpersist it.
      val dims = emb.select($"vec_id", posexplode($"embedding").as(Seq("k", "v")))
        .select($"vec_id", expr("k div 4").cast("int").as("m"), $"k",
          floor($"v".cast("double") * 1000).cast("long").as("qv"))
        .localCheckpoint(false)
      val code = dims.filter($"vec_id" < G * K)
        .groupBy(expr("vec_id div 16").cast("int").as("j"), $"m", $"k")
        .agg(sum($"qv").as("sk"))
      val cstat = code.groupBy($"m", $"j").agg(sum($"sk" * $"sk").as("ss"))
      val ip = dims.join(broadcast(code), Seq("m", "k"))
        .groupBy($"vec_id", $"m", $"j").agg(sum($"qv" * $"sk").as("ip"))
      val codes = ip.join(broadcast(cstat), Seq("m", "j"))
        .select($"vec_id", $"m", $"j", ($"ss" - lit(2L * G) * $"ip").as("cost"))
        .groupBy($"vec_id", $"m")
        .agg(min(struct($"cost", $"j")).as("c"))
        .select($"vec_id", $"m", $"c.j".as("j"))
      val qip = ip.filter($"vec_id".isin(0, 1, 2))
        .select($"vec_id".as("qid"), $"m", $"j", $"ip".as("qip"))
      val adc = codes.filter(!$"vec_id".isin(0, 1, 2))
        .join(broadcast(qip), Seq("m", "j"))
        .groupBy($"qid", $"vec_id").agg(sum($"qip").as("adc"))
      val cand = adc.groupBy($"qid")
        .agg(graft.operators.TopKAgg.topKByScore(
          $"adc".cast("double"), $"vec_id", C).as("top"))
        .select($"qid", explode($"top").as("e"))
        .select($"qid", $"e.id".as("vec_id"))
      val q = emb.filter($"vec_id".isin(0, 1, 2))
        .select($"vec_id".as("qid"), $"embedding".as("qe"))
      val c = emb.filter(!$"vec_id".isin(0, 1, 2))
        .select($"vec_id", $"embedding".as("ce"))
      val scored = cand.join(broadcast(q), "qid").join(c, "vec_id")
        .select($"qid", $"vec_id", cosine($"qe", $"ce").as("cos"))
      val top = topKPerQuery(scored, TopK)
        .select($"qid", $"vec_id",
          floor($"cos" * 10000 + 0.5).cast("long").as("score_x10000"), $"rnk")
      // Recall audit: exact global top-5 per query (one more linear pass,
      // same broadcast-query corpus-scan shape as v_ann_cosine — never a
      // self-join), overlap with the PQ answer, banded flag. The oracle
      // pins recall_ok = 1, so the gate FAILS if PQ candidate quality
      // drops below the band — an honest ANN-quality number, not just
      // integer-replay plumbing parity.
      val exact5 = topKPerQuery(c.crossJoin(broadcast(q))
          .select($"qid", $"vec_id", cosine($"qe", $"ce").as("cos")), TopK)
        .select($"qid", $"vec_id", lit(1).as("hit"))
      val hits = top.join(exact5, Seq("qid", "vec_id"), "left")
        .groupBy($"qid").agg(sum(coalesce($"hit", lit(0))).as("nhit"))
      top.join(broadcast(hits), "qid")
        .select($"qid", $"vec_id", $"score_x10000", $"rnk",
          when($"nhit" >= PqRecallBand, 1).otherwise(0).cast("int")
            .as("recall_ok"))
        .orderBy($"qid", $"rnk")
    }),

    // Int8-quantized ANN (the embedding-compression scale path: int8
    // symmetric quantization carries 4× less data per vector through
    // every scan and shuffle than float32 — the standard serving-index
    // trick applied to the corpus side). Per vector: scale m = max |v_i|,
    // code q_i = floor(v_i·127/m + 0.5) — round-half-up is the same
    // closed form both engines evaluate, and every cross-row comparison
    // after that is an exact integer dot product (codes cast to float are
    // exact ≤ 127, products exact ≤ 127², the 64-term double sum exact —
    // the codegen DOT expression is reused unchanged). Candidates rank by
    // ip·m_b (query scale and 127² are per-query constants, so this
    // preserves the true-dot order up to quantization error) through the
    // bounded-heap TopKAgg — map-side partials trim to C before the
    // shuffle — then the top C get one exact cosine re-score. The query
    // side broadcasts; the corpus is scanned once and never self-joins.
    "v_ann_int8" -> ((s, d) => {
      import s.implicits._
      val C = 10
      val emb = embeddings(s, d).select($"vec_id", $"embedding")
      val coded = emb.select($"vec_id", $"embedding",
        array_max(transform($"embedding", x => abs(x.cast("double")))).as("m"))
        .select($"vec_id", $"embedding", $"m",
          transform($"embedding",
            x => floor(x.cast("double") * 127.0 / $"m" + 0.5).cast("float"))
            .as("q8"))
      val q = coded.filter($"vec_id".isin(0, 1, 2))
        .select($"vec_id".as("qid"), $"embedding".as("qe"), $"q8".as("qa"))
      val c = coded.filter(!$"vec_id".isin(0, 1, 2))
        .select($"vec_id", $"embedding".as("ce"), $"m".as("mb"), $"q8".as("qb"))
      // one corpus pass: candidates scored through the int8 codes only
      val cand = c.crossJoin(broadcast(q))
        .select($"qid", $"vec_id", (dot($"qa", $"qb") * $"mb").as("rs"))
        .groupBy($"qid")
        .agg(graft.operators.TopKAgg.topKByScore($"rs", $"vec_id", C).as("top"))
        .select($"qid", posexplode($"top").as(Seq("i", "e")))
        .select($"qid", $"e.id".as("vec_id"), ($"i" + 1).cast("int").as("rnk"))
      // candidates only: exact cosine re-score + the integer ip for audit
      cand.join(broadcast(q), "qid").join(c, "vec_id")
        .select($"qid", $"vec_id", dot($"qa", $"qb").cast("long").as("ip"),
          floor(cosine($"qe", $"ce") * 10000 + 0.5).cast("long")
            .as("score_x10000"),
          $"rnk")
        .orderBy($"qid", $"rnk")
    }),

    // Document clustering: Lloyd's k-means over the embedding corpus,
    // k=4 seeds from fixed vec_ids, 2 unrolled iterations. Everything
    // cross-row is integer (quantized dims; centroids carried as
    // (Σq, n) pairs, never divided), so results are order-free and the
    // DuckDB oracle replays them exactly; the scaled integer distance
    // n²·Σq² − 2n·Σq·s + Σs² needs one deterministic double division
    // (÷n²) only to compare across clusters of different sizes. Scale
    // shape: centroids (k×64 rows) broadcast both ways, the corpus sees
    // one explode and per-iteration partial-aggregated shuffles keyed on
    // vec_id — the canonical Spark k-means plan at any corpus size.
    "v_kmeans" -> ((s, d) => {
      import s.implicits._
      kmeansQuantized(embeddings(s, d), Seq(1L, 5L, 9L, 13L), iters = 2)
        .orderBy($"vec_id")
    }),

    // Semantic dedup (the SemDeDup recipe, Abbas et al. 2023): cluster
    // the corpus with k-means, then look for near-duplicate pairs ONLY
    // within a cluster — the cluster equi-join bounds the pair space,
    // turning the O(n²) global scan into Σ|cluster|², controlled by k.
    // Same cosine threshold as the global exact baseline
    // (d_embed_neardup), so its rows are the within-cluster subset of
    // that gate's pairs — clustering quality is directly observable.
    "d_semantic_dedup" -> ((s, d) => {
      import s.implicits._
      semanticPairsScored(embeddings(s, d), Seq(1L, 5L, 9L, 13L), iters = 2)
        .filter($"cos" >= 0.45)
        .select($"cid", $"id1", $"id2",
          floor($"cos" * 10000 + 0.5).cast("long").as("score_x10000"))
        .orderBy($"cid", $"id1", $"id2")
    }),

    // Threshold-tuning sweep for semantic dedup (how aggressive can the
    // cosine cut be before recall collapses): the within-cluster pair
    // counts surviving each candidate threshold, from ONE scored-pair
    // pass — the curve a dedup owner reads before picking the knob.
    // Thresholds explode from a 4-element literal array, so the pair
    // table is scanned once and the counts are partial-aggregable.
    "d_semantic_threshold_sweep" -> ((s, d) => {
      import s.implicits._
      val counts = semanticPairsScored(embeddings(s, d),
          Seq(1L, 5L, 9L, 13L), iters = 2)
        .select($"cos", explode(array(lit(45), lit(80), lit(90), lit(95)))
          .as("thr_x100"))
        .filter($"cos" >= $"thr_x100" / 100.0)
        .groupBy($"thr_x100")
        .agg(count(lit(1)).as("n"))
      // zero-filled curve: a threshold that kills every pair still gets
      // its row — that cliff is exactly what the sweep exists to show
      Seq(45, 80, 90, 95).toDF("thr_x100")
        .join(broadcast(counts), Seq("thr_x100"), "left")
        .select($"thr_x100", coalesce($"n", lit(0L)).as("pairs"))
        .orderBy($"thr_x100")
    }),

    // Kendall rank correlation between the BM25 and embedding rankers
    // over their shared candidates (do the two retrieval legs agree
    // enough that fusion adds anything?): concordant/discordant pair
    // counts over the joined rank table — exact integers, pair space
    // bounded by k², computed without any windowed sort of the corpus.
    "x_rank_kendall" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val bm = bm25Search(documents(s, d), Seq("hash", "join", "batch"),
          k = 15)
        .withColumn("r_bm", row_number().over(
          Window.orderBy($"score".desc, $"doc_id")).cast("long"))
        .select($"doc_id", $"r_bm")
      val emb = embeddings(s, d)
      val q = emb.filter($"vec_id" === 0).select($"embedding".as("qe"))
      val vec = emb.filter($"vec_id" =!= 0)
        .crossJoin(broadcast(q))
        .select($"vec_id".as("doc_id"), cosine($"qe", $"embedding").as("cos"))
        .orderBy(desc("cos"), $"doc_id").limit(15)
        .withColumn("r_vec", row_number().over(
          Window.orderBy(desc("cos"), $"doc_id")).cast("long"))
        .select($"doc_id", $"r_vec")
      val both = bm.join(vec, Seq("doc_id")).localCheckpoint(false)
      val pairs = both.select($"r_bm".as("a1"), $"r_vec".as("b1"))
        .crossJoin(broadcast(
          both.select($"r_bm".as("a2"), $"r_vec".as("b2"))))
        .filter($"a1" < $"a2")
      pairs.agg(count(lit(1)).as("n_pairs"),
          coalesce(sum(when(($"b1" < $"b2"), 1L).otherwise(0L)), lit(0L))
            .as("concordant"))
        .select($"n_pairs", $"concordant",
          when($"n_pairs" > 0,
            expr("((2 * concordant - n_pairs) * 1000000) div n_pairs"))
            .otherwise(0L).as("tau_x1e6"))
    }),

    // NDCG@10 for the BM25 ranker (the graded companion to the recall
    // evals): relevance = doc_id % 4 (a deterministic 4-level label),
    // DCG discount terms floor-quantized ×1e9 PER RANK before the sum
    // (order-free), ideal DCG = ten rel-3 slots (the corpus has plenty)
    // so NDCG is an honest corpus-wide ratio in basis points. Runs on
    // the 15-row BM25 result only.
    "x_dcg_eval" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val top = bm25Search(documents(s, d), Seq("hash", "join", "batch"),
        k = 15)
      val terms = top.withColumn("rnk", row_number().over(
          Window.orderBy($"score".desc, $"doc_id")).cast("int"))
        .filter($"rnk" <= 10)
        .select(floor(lit(1e9) *
          (pow(lit(2.0), ($"doc_id" % 4).cast("double")) - 1) /
          (log($"rnk" + lit(1.0)) / log(lit(2.0)))).cast("long").as("g"))
      val ideal = s.range(1, 11)
        .select(floor(lit(1e9) * 7.0 /
          (log($"id" + lit(1.0)) / log(lit(2.0)))).cast("long").as("gi"))
        .agg(sum($"gi").as("idcg_x1e9"))
      terms.agg(sum($"g").as("dcg_x1e9"))
        .crossJoin(broadcast(ideal))
        .select($"dcg_x1e9", $"idcg_x1e9",
          expr("(dcg_x1e9 * 10000) div idcg_x1e9").as("ndcg_x1e4"))
    }),


    // Embedding outlier filter: per-label integer-quantized centroid
    // (order-free dim sums, same scheme as v_ann_ivf) and the 5 vectors
    // least aligned with their label centroid by exact integer inner
    // product — the "drop far-from-cluster examples" pipeline op. The
    // centroid table (labels × 64 rows) broadcasts; the corpus sees one
    // explode + two partial-aggregated shuffles and never self-joins.
    "v_centroid_outliers" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val dims = embeddings(s, d).select($"vec_id", $"label",
          posexplode($"embedding").as(Seq("k", "v")))
        .select($"vec_id", $"label", $"k",
          floor($"v".cast("double") * 1000).cast("long").as("qv"))
      val cent = dims.groupBy($"label", $"k").agg(sum($"qv").as("cs"))
      val ip = dims.join(broadcast(cent), Seq("label", "k"))
        .groupBy($"vec_id", $"label").agg(sum($"qv" * $"cs").as("ip"))
      val w = Window.partitionBy($"label").orderBy($"ip".asc, $"vec_id")
      ip.withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
        .select($"label", $"rk", $"vec_id", $"ip")
        .orderBy($"label", $"rk")
    }),

    // Gopher-style document quality flags: integer-only rules (token count
    // band, mean-word-length band via cross-multiplication, stopword
    // presence, symbol ratio) composed into a 0-4 score
    // TF-IDF top term per document. The idf is integer-quantized
    // ((1e6 · N) div df — rank-preserving for fixed N) so scores are
    // exact integers in both engines and the (score desc, term asc)
    // tie-break can never split on a float ULP. df-join shuffles on term
    // (the scale path — vocabulary is unbounded); N broadcasts.
    // Benchmark decontamination — the published pretraining hygiene step
    // (n-gram collision scan of training docs against an evaluation
    // set): docs with doc_id % 50 == 0 stand in as the benchmark; every
    // other doc is scanned for 5-gram overlap. Scale shape: the
    // benchmark's distinct n-grams are small by construction and
    // BROADCAST; the corpus sees one explode + distinct + hash join +
    // partial-aggregated count — never a self-join, linear in corpus
    // size no matter how large the training set.
    "x_decontaminate" -> ((s, d) => {
      import s.implicits._
      // fanOutScan + checkpoint: the 5-gram explode feeds two consumers
      // (benchmark and training sides) — spread the one-split scan and
      // materialize the explode once instead of once per consumer
      val base = graft.operators.Scale.fanOutScan(documents(s, d))
        .select($"doc_id", words($"text").as("w"))
        .filter(size($"w") >= 5)
      val grams = base.select($"doc_id",
        explode(transform(sequence(lit(1), size($"w") - 4),
          i => concat_ws(" ", element_at($"w", i), element_at($"w", i + 1),
            element_at($"w", i + 2), element_at($"w", i + 3),
            element_at($"w", i + 4)))).as("g"))
        .localCheckpoint(false)
      val bench = grams.filter($"doc_id" % 50 === 0).select($"g").distinct()
      val train = grams.filter($"doc_id" % 50 =!= 0).distinct()
      val hits = train.join(broadcast(bench), Seq("g"))
        .groupBy($"doc_id").agg(count(lit(1)).as("hits"))
      documents(s, d).filter($"doc_id" % 50 =!= 0)
        .select($"doc_id").join(hits, Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"hits", lit(0L)).as("hits"),
          (coalesce($"hits", lit(0L)) > 0).cast("int").as("contaminated"))
        .orderBy($"doc_id")
    }),

    // Vocabulary-size sketch behind the driver gate via the bounded-
    // deviation recipe: `approx_count_distinct` (HyperLogLog++) is the
    // 100 TB path — single-pass, mergeable across partitions (partial
    // aggregation works), O(2^p) state per group regardless of corpus
    // size — while exact count-distinct must shuffle every distinct
    // term. rsd 0.02 → the gate's ±10% band is 5σ; tiny groups sit in
    // HLL++'s exact sparse mode, covered by the +8 floor. The oracle
    // computes the exact vocabulary and pins every flag 1.
    "x_vocab_hll" -> ((s, d) => {
      import s.implicits._
      // (measured r19: a fanOutScan here LOST 0.14 s — the partial aggs
      // combine in the scan task cheaper than a repartition)
      val toks = documents(s, d).filter(length(trim($"text")) > 0)
        .select($"lang", explode(words($"text")).as("term"))
      toks.groupBy($"lang")
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct($"term").as("vocab_exact"),
          approx_count_distinct($"term", 0.02).as("hll"))
        .select($"lang", $"n_tokens", $"vocab_exact",
          when(abs($"hll" - $"vocab_exact").cast("double") <=
            greatest($"vocab_exact" * 0.10, lit(8.0)), 1).otherwise(0)
            .cast("int").as("ok_hll"))
        .orderBy($"lang")
    }),

    // Repeated n-gram span coverage — the within-corpus substring-dup
    // signal behind "deduplicate repeated spans before training" (Lee
    // et al. 2022): for every document, the fraction of its 5-gram
    // positions whose 5-gram occurs in >= 3 distinct documents. Scale
    // shape: one explode → distinct → partial-aggregated doc-frequency
    // count → hash equi-join back on the gram (vocabulary-sized both
    // sides, shuffle join — deliberately NOT broadcast) → per-doc
    // partial-aggregated sum; linear in the corpus, never a self-join.
    "x_dup_spans" -> ((s, d) => {
      import s.implicits._
      // fanOutScan: the 5-gram explode is CPU-bound and the scan is one
      // split (no-op at scale)
      val base = graft.operators.Scale.fanOutScan(documents(s, d))
        .select($"doc_id", words($"text").as("w"))
        .filter(size($"w") >= 5)
      // two consumers (doc-frequency build, per-position join) — the
      // corpus-sized 5-gram explode materializes once, not once each
      val grams = base.select($"doc_id",
        explode(transform(sequence(lit(1), size($"w") - 4),
          i => concat_ws(" ", element_at($"w", i), element_at($"w", i + 1),
            element_at($"w", i + 2), element_at($"w", i + 3),
            element_at($"w", i + 4)))).as("g"))
        .localCheckpoint(false)
      val docFreq = grams.distinct().groupBy($"g").agg(count(lit(1)).as("df"))
      grams.join(docFreq, Seq("g"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("positions"),
          sum(when($"df" >= 3, 1L).otherwise(0L)).as("dup_positions"))
        .select($"doc_id", $"positions", $"dup_positions",
          floor(lit(10000.0) * $"dup_positions" / $"positions" + 0.5)
            .cast("long").as("dup_x10000"))
        .orderBy($"doc_id")
    }),

    // Paragraph-level dedup with rewrite — see [[paragraphDedup]].
    "d_paragraph_dedup" -> ((s, d) =>
      paragraphDedup(documents(s, d), segWords = 10)),

    // Unigram-LM surprisal score — the deterministic stand-in for the
    // perplexity-based quality filter (CCNet/Gopher use an external LM;
    // here the corpus's own unigram distribution is the model). Per-word
    // log-probability quantizes to an integer once (vocab-sized table),
    // so the per-document sum is order-free; the only FP ops are one
    // division and one ln per DISTINCT word, replayed exactly by the
    // oracle. Scale shape: token explode → partial-aggregated unigram
    // counts → equi-join back on term (vocab-sized, hash join) → per-doc
    // partial-aggregated sum; the only broadcast is the 1-row total.
    "x_unigram_nll" -> ((s, d) =>
      unigramNllPerDoc(s, d).orderBy(col("doc_id"))),

    // Linear quality-classifier inference (the fastText-style shape used
    // for pretraining-data quality filters): features are unigrams plus
    // adjacent-word bigrams, each feature-hashed by md5 into a 16⁶
    // weight space whose "trained" weight is the deterministic integer
    // (hash % 2001) − 1000 — so the oracle replays the exact model. The
    // doc score is an order-free integer sum; the only FP op is the one
    // mean division. Scale shape: a narrow per-row explode → one
    // partial-aggregated hash shuffle on doc_id; no joins at all (the
    // weight is computed, not looked up — real serving would broadcast a
    // weight table, same plan with one map-side hash join added).
    "x_quality_classifier" -> ((s, d) => {
      import s.implicits._
      // fanOutScan: the feature explode + per-feature md5 is CPU-bound
      // and the scan is one split (no-op at scale)
      val base = graft.operators.Scale.fanOutScan(
          documents(s, d).filter(length(trim($"text")) > 0))
        .select($"doc_id", words($"text").as("w"))
      val feats = base.select($"doc_id", explode(concat($"w",
        zip_with($"w",
          slice($"w", lit(2), greatest(
            org.apache.spark.sql.functions.size($"w") - 1, lit(0))),
          (a, b) => concat(a, lit("_"), b)))).as("f"))
        .filter($"f".isNotNull) // zip_with null-pads the shorter tail
      feats.select($"doc_id",
          (conv(substring(md5(concat(lit("qw:"), $"f").cast("binary")), 1, 6),
            16, 10).cast("long") % 2001 - 1000).as("wt"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("feats"), sum($"wt").as("score_sum"))
        .select($"doc_id", $"feats", $"score_sum",
          floor($"score_sum".cast("double") / $"feats" + 0.5).cast("long")
            .as("mean_x1000"),
          ($"score_sum" >= 0).cast("long").as("keep"))
        .orderBy($"doc_id")
    }),

    // DSIR importance selection toward the English subset — see
    // [[dsirSelect]].
    "x_dsir" -> ((s, d) =>
      dsirSelect(documents(s, d), targetLang = "en", k = 25)),

    // BM25 retrieval for a 3-term query — see [[bm25Search]].
    "x_bm25_search" -> ((s, d) =>
      bm25Search(documents(s, d), Seq("hash", "join", "batch"), k = 15)),

    // Per-language quota sampling: keep exactly 20 docs per language,
    // chosen by a deterministic per-doc hash rank, via the GROUP-BOUNDED
    // TopKAgg heap — map-side partials trim every partition to 20 rows
    // per language before the exchange, where the window-sort
    // formulation (row_number over partition by lang) would shuffle and
    // sort the ENTIRE corpus per language. The oracle IS that window
    // formulation, so the gate proves the bounded heap equals it.
    "x_lang_quota" -> ((s, d) => {
      import s.implicits._
      documents(s, d).select($"lang", $"doc_id",
          conv(substring(md5(concat(lit("quota:"),
            $"doc_id".cast("string")).cast("binary")), 1, 12), 16, 10)
            .cast("long").as("hr"))
        .groupBy($"lang")
        .agg(graft.operators.TopKAgg.topKByScore(
          $"hr".cast("double"), $"doc_id", 20).as("top"))
        .select($"lang", posexplode($"top").as(Seq("i", "e")))
        .select($"lang", $"e.id".as("doc_id"),
          ($"i" + 1).cast("int").as("rnk"))
        .orderBy($"lang", $"rnk")
    }),

    "x_tfidf_top" -> ((s, d) => {
      import s.implicits._
      // fanOutScan + checkpoint: two consumers (term explode, doc count)
      // off a one-split scan — spread and materialize the token arrays
      val docs = graft.operators.Scale.fanOutScan(
          documents(s, d).filter(length(trim($"text")) > 0))
        .select($"doc_id", words($"text").as("w"))
        .localCheckpoint(false)
      val tf = docs.select($"doc_id", explode($"w").as("term"))
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
        .select($"doc_id", $"term", $"tf", $"df",
          ($"tf" * expr("(1000000 * n_docs) div df")).as("score"))
      // top-1 per doc via a partial-aggregable argmin over
      // (-score, term, ...) — identical ordering to the row_number
      // window (score desc, term asc; scores are exact integers) with
      // map-side combine instead of a corpus-wide shuffle+sort per doc
      scored.groupBy($"doc_id")
        .agg(min(struct((-$"score").as("ns"), $"term".as("term"),
          $"tf".as("tf"), $"df".as("df"))).as("m"))
        .select($"doc_id", $"m.term".as("term"), $"m.tf".as("tf"),
          $"m.df".as("df"), (-$"m.ns").as("score"))
        .orderBy($"doc_id")
    }),

    // Deterministic stratified hash sampling: 20% of English docs, 5% of
    // the rest, decided purely by md5(salt:doc_id) so the oracle can
    // replay the exact membership
    "x_hash_sample" -> ((s, d) => {
      import s.implicits._
      stratifiedHashSample(documents(s, d), $"doc_id", $"lang",
        Map("en" -> 0.2), defaultRate = 0.05)
        .select($"doc_id", $"lang", $"source")
        .orderBy($"doc_id")
    }),

    // RAG chunking: 32-word windows at stride 24 (8-word overlap); chunk
    // text pinned by md5 so the oracle verifies the exact slices
    "x_chunk_windows" -> ((s, d) => {
      import s.implicits._
      chunkWindows(documents(s, d), size = 32, stride = 24)
        .orderBy($"doc_id", $"chunk_idx")
    }),

    // Sequence packing: concat-and-chunk into 512-token bins over the
    // doc_id tape, prefix sum computed distributed (see packBins)
    "x_seq_pack" -> ((s, d) => {
      import s.implicits._
      packBins(documents(s, d), budget = 512)
        .orderBy($"bin_id")
    }),

    // End-to-end corpus build — the full LLM-data pipeline as ONE lazy
    // plan: length/quality filter → exact dedup (min-id keeper per
    // normalized fingerprint) → temperature source mixing at a half-corpus
    // budget → concat-and-chunk packing into 512-token bins. Every stage
    // is the already-gated operator; this gate pins their composition
    // (the funnel a real corpus run ships through).
    "e2e_corpus_build" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val quality = documents(s, d).filter(length(trim($"text")) > 0)
        .withColumn("nw", size(words($"text")))
        .filter($"nw" >= 20 && $"nw" <= 200)
      // min-id keeper as ONE window over the fp shuffle (a groupBy-min +
      // self-join would scan the corpus twice); the survivors are then
      // localCheckpoint'ed lazily — three downstream consumers (rate
      // table, sampling pass, packer) reuse the materialized survivors
      // instead of re-deriving the funnel, so the corpus parquet is
      // scanned exactly once per run (plan-pinned)
      val deduped = quality.select($"doc_id", $"text", $"source",
          md5(lower(trim(regexp_replace($"text", " +", " "))).cast("binary"))
            .as("fp"))
        .withColumn("rk",
          row_number().over(Window.partitionBy($"fp").orderBy($"doc_id")))
        .filter($"rk" === 1).drop("rk", "fp")
        .localCheckpoint(false)
      val rates = sourceMixRates(deduped, budgetDiv = 2)
      val sampled = deduped
        .join(broadcast(rates.select($"source", $"thr")), "source")
        .filter(substring(md5(concat(lit("e2e:"),
          $"doc_id".cast("string")).cast("binary")), 1, 4) < $"thr")
      packBins(sampled.select($"doc_id", $"text"), budget = 512)
        .orderBy($"bin_id")
    }),

    // Incremental bloom dedup: old snapshot = even doc_ids (plus every
    // 50th doc re-crawled under a fresh odd id, so exact dups exist at
    // every SF); new = odd. Per new doc: bloom maybe_seen, exact_dup,
    // and the no-false-negative band pinned 1 (see bloomMaybeSeen)
    "d_bloom_incremental" -> ((s, d) => {
      import s.implicits._
      val base = documents(s, d).select($"doc_id", $"text")
      val recrawled = base.filter($"doc_id" % 50 === 0)
        .select(($"doc_id" + 1000001L).as("doc_id"), $"text")
      val corpus = base.unionAll(recrawled)
      bloomMaybeSeen(corpus.filter($"doc_id" % 2 === 0),
          corpus.filter($"doc_id" % 2 === 1))
        .orderBy($"doc_id")
    }),

    // Temperature mixing: sqrt-weighted source budget allocation with
    // md5-replayable membership (see sourceMix)
    "x_source_mix" -> ((s, d) => {
      import s.implicits._
      sourceMix(documents(s, d)).orderBy($"source")
    }),

    // Seeded-shuffle bucket histogram + balance band (see shuffleBuckets)
    "x_shuffle_buckets" -> ((s, d) => {
      import s.implicits._
      shuffleBuckets(documents(s, d)).orderBy($"bucket")
    }),

    // Gopher-style repetition signals: most-frequent word and bigram
    // fractions per document (flat word-stream texts, so line/paragraph
    // dup fractions have no carrier here)
    "x_repetition" -> ((s, d) => {
      import s.implicits._
      // fanOutScan + checkpoint: two consumers (unigram and bigram
      // explodes) re-tokenized the one-split scan — spread it and
      // materialize the token arrays once
      val docs = graft.operators.Scale.fanOutScan(
          documents(s, d).filter(length(trim($"text")) > 0))
        .select($"doc_id", words($"text").as("w"))
        .localCheckpoint(false)
      val uni = docs
        .select($"doc_id", size($"w").as("tokens"), explode($"w").as("word"))
        .groupBy($"doc_id", $"tokens", $"word").agg(count(lit(1)).as("n"))
        .groupBy($"doc_id", $"tokens").agg(max($"n").as("top_word_n"))
      val big = docs
        .select($"doc_id", explode(zip_with(
          slice($"w", lit(1), size($"w") - 1), slice($"w", lit(2), size($"w") - 1),
          (a, b) => concat(a, lit(" "), b))).as("bg"))
        .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("n"))
        .groupBy($"doc_id").agg(max($"n").as("top_bigram_n"), sum($"n").as("bigrams"))
      uni.join(big, Seq("doc_id"), "left")
        .select($"doc_id", $"tokens", $"top_word_n",
          coalesce($"bigrams", lit(0L)).as("bigrams"),
          coalesce($"top_bigram_n", lit(0L)).as("top_bigram_n"),
          floor(lit(10000.0) * $"top_word_n" / $"tokens" + 0.5).cast("long")
            .as("top_word_x10000"),
          when(coalesce($"bigrams", lit(0L)) === 0, 0L)
            .otherwise(floor(lit(10000.0) * $"top_bigram_n" / $"bigrams" + 0.5)
              .cast("long")).as("top_bigram_x10000"))
        .orderBy($"doc_id")
    }),

    // Decile bucketing (ntile over a total order): the "keep the top
    // n% by quality" assignment — integer-exact in both engines
    "x_quality_decile" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"lang").orderBy($"tokens", $"doc_id")
      documents(s, d).filter(length(trim($"text")) > 0)
        .select($"doc_id", $"lang", size(words($"text")).as("tokens"))
        .withColumn("decile", ntile(10).over(w))
        .orderBy($"doc_id")
    }),

    // Per-(lang, source) token-count quantiles — the percentile-based
    // length filter of a training-data pipeline. Exact path gated here;
    // the approx_percentile sketch is the 100 TB path (see tokenQuantiles
    // and the ScaleSpec pin)
    "x_len_quantiles" -> ((s, d) => {
      import s.implicits._
      tokenQuantiles(documents(s, d), exact = true)
        .select($"lang", $"source", $"n",
          floor($"qs"(0) * 1000 + 0.5).cast("long").as("q25_x1000"),
          floor($"qs"(1) * 1000 + 0.5).cast("long").as("q50_x1000"),
          floor($"qs"(2) * 1000 + 0.5).cast("long").as("q75_x1000"),
          floor($"qs"(3) * 1000 + 0.5).cast("long").as("q90_x1000"))
        .orderBy($"lang", $"source")
    }),

    // The approx-quantile SCALE path itself, behind the driver gate via
    // the bounded-deviation recipe: the GK sketch's returned element must
    // sit within ±max(0.01·n, 1) of the requested rank in every
    // (lang, source) group (the sketch guarantee is ε·n = n/10000, plus
    // one element of integer-rank granularity in tiny groups). The query
    // computes the real rank of each sketch quantile against the real
    // token counts and emits the pass flags; the oracle pins them all 1.
    "x_len_quantiles_approx" -> ((s, d) => {
      import s.implicits._
      val toks = documents(s, d).filter(length(trim($"text")) > 0)
        .select($"lang", $"source",
          size(words($"text")).cast("double").as("tokens"))
      val sk = tokenQuantiles(documents(s, d), exact = false)
        .select($"lang", $"source", $"qs")
      val counts = QuantilePs.indices.flatMap { i =>
        Seq(sum(when($"tokens" < $"qs"(i), 1L).otherwise(0L)).as(s"lt_$i"),
          sum(when($"tokens" <= $"qs"(i), 1L).otherwise(0L)).as(s"le_$i"))
      }
      val flags = QuantilePs.zipWithIndex.map { case (p, i) =>
        val tol = greatest($"n" * 0.01, lit(1.0))
        when(col(s"lt_$i") <= $"n" * p + tol &&
             col(s"le_$i") >= $"n" * p - tol, 1).otherwise(0)
          .cast("int").as(s"ok_q${(p * 100).toInt}")
      }
      toks.join(broadcast(sk), Seq("lang", "source"))
        .groupBy($"lang", $"source")
        .agg(count(lit(1)).as("n"), counts: _*)
        .select($"lang" +: $"source" +: $"n" +: flags: _*)
        .orderBy($"lang", $"source")
    }),

    "x_quality_score" -> ((s, d) => {
      import s.implicits._
      val base = documents(s, d).filter(length(trim($"text")) > 0)
        .select($"doc_id", $"text", words($"text").as("w"))
        .select($"doc_id",
          size($"w").as("tokens"),
          length(regexp_replace($"text", " ", "")).as("chars_ns"),
          length($"text").as("chars"),
          length(regexp_replace($"text", "[A-Za-z0-9 ]", "")).as("symbols"),
          size(filter($"w", x => x.isin("the", "a", "of", "and"))).as("stop_hits"))
      base.select($"doc_id", $"tokens", $"stop_hits",
          when($"tokens" >= 5 && $"tokens" <= 200, 1).otherwise(0).as("ok_tokens"),
          when($"chars_ns" * 100 >= $"tokens" * 300 &&
               $"chars_ns" * 100 <= $"tokens" * 1000, 1).otherwise(0).as("ok_mwl"),
          when($"stop_hits" > 0, 1).otherwise(0).as("has_stop"),
          when($"symbols" * 10 <= $"chars", 1).otherwise(0).as("ok_symbol"))
        .withColumn("quality_score",
          $"ok_tokens" + $"ok_mwl" + $"has_stop" + $"ok_symbol")
        .orderBy($"doc_id")
    }),

    // Multimodal audio: a deterministic PCM waveform per document is
    // encoded to real RIFF/WAVE bytes and decoded back through the
    // from-scratch WavCodec (routing via the payload sniffer); the oracle
    // recomputes the closed-form sample sums the round-trip must preserve
    "x_audio_wav" -> ((s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal
      documents(s, d).select($"doc_id").as[Long].map { id =>
        val n = (64 + id % 64).toInt
        val rate = (8000 + (id % 4) * 4000).toInt
        val raw = Array.tabulate(n)(i => ((id * 131 + i * 7) % 251).toByte)
        val meta = Multimodal.MediaMeta("audio", "wav", 1, 16, n, rate)
        val payload = Multimodal.WavCodec.encode(meta, raw)
        val codec = Multimodal.codecFor(payload)
        val (channels, bits, frames, outRate) = codec.decodeMeta(payload)
          .getOrElse(sys.error(s"WAV round-trip failed to parse for doc $id"))
        val back = codec.samples(payload)
        (id, outRate, frames, channels, bits,
          back.foldLeft(0L)((a, b) => a + (b & 0xff)))
      }.toDF("doc_id", "sample_rate", "n_samples", "channels", "bits",
          "sample_sum")
        .orderBy($"doc_id")
    }),

    // Multimodal image: a deterministic gray ramp per document is encoded
    // to real PNG bytes (JDK imageio) and decoded back through codecFor
    // routing; grayscale PNG is lossless, so the oracle recomputes the
    // exact closed-form luma sums the round-trip must preserve
    "x_image_png" -> ((s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal
      graft.operators.Scale.fanOutScan(documents(s, d).select($"doc_id"))
        .as[Long].map { id =>
        val w = (8 + id % 8).toInt
        val h = (6 + id % 6).toInt
        val raw = Array.tabulate(w * h)(i => ((id * 131 + i * 7) % 251).toByte)
        val meta = Multimodal.MediaMeta("image", "png", w, h, 1, 0)
        val payload = Multimodal.ImageCodec.encode(meta, raw)
        val codec = Multimodal.codecFor(payload)
        val (ow, oh, frames, _) = codec.decodeMeta(payload)
          .getOrElse(sys.error(s"PNG round-trip failed to parse for doc $id"))
        val back = codec.samples(payload)
        (id, ow, oh, frames, back.foldLeft(0L)((a, b) => a + (b & 0xff)))
      }.toDF("doc_id", "width", "height", "frames", "luma_sum")
        .orderBy($"doc_id")
    }),

    // Multimodal video: 2-4 uniform-gray frames per document are encoded
    // to a real MJPEG-in-AVI payload and decoded back. Container metadata
    // (dims, frame count, fps) and the sample-plane length are pinned
    // exactly; JPEG frames are lossy, so pixel content is gated as a
    // bounded-deviation flag (per-frame mean luma within 4 of the encoded
    // value — DC-only blocks at quality 0.98 sit well inside that)
    "x_video_avi" -> ((s, d) => {
      import s.implicits._
      import graft.multimodal.Multimodal
      graft.operators.Scale.fanOutScan(documents(s, d).select($"doc_id"))
        .as[Long].map { id =>
        val w = 16; val h = 8; val plane = w * h
        val nf = (2 + id % 3).toInt
        val fps = (10 + id % 5).toInt
        val expect = Array.tabulate(nf)(fi => ((id * 37 + fi * 29) % 200 + 20).toInt)
        val raw = new Array[Byte](nf * plane)
        var fi = 0
        while (fi < nf) {
          java.util.Arrays.fill(raw, fi * plane, (fi + 1) * plane, expect(fi).toByte)
          fi += 1
        }
        val meta = Multimodal.MediaMeta("video", "mjpg", w, h, nf, fps)
        val payload = Multimodal.AviMjpegCodec.encode(meta, raw)
        val codec = Multimodal.codecFor(payload)
        val (ow, oh, of, ofps) = codec.decodeMeta(payload)
          .getOrElse(sys.error(s"AVI round-trip failed to parse for doc $id"))
        val back = codec.samples(payload)
        var maxDev = 0
        fi = 0
        while (fi < of) {
          var sum = 0L
          var i = fi * plane
          val end = math.min((fi + 1) * plane, back.length)
          while (i < end) { sum += (back(i) & 0xff); i += 1 }
          val dev = math.abs((sum / plane).toInt - expect(math.min(fi, nf - 1)))
          if (dev > maxDev) maxDev = dev
          fi += 1
        }
        (id, ow, oh, of, ofps, back.length.toLong, if (maxDev <= 4) 1 else 0)
      }.toDF("doc_id", "width", "height", "n_frames", "fps", "plane_len",
          "frames_ok")
        .orderBy($"doc_id")
    }),

    // LSH-bucketed ANN (scale path): same 32-plane / 4-table sign-hyperplane
    // machinery as d_embed_neardup_lsh — a candidate is any vector sharing
    // at least one table bucket with the query, re-scored by exact cosine.
    // The tiny query side broadcasts; the corpus side never self-joins.
    "v_ann_lsh" -> ((s, d) =>
      annLshTop5(s, d)
        .select(col("qid"), col("vec_id"),
          floor(col("cos") * 10000 + 0.5).cast("long").as("score_x10000"),
          col("rnk"))
        .orderBy(col("qid"), col("rnk"))),

    // Multi-probe recall eval: recall@5 + top-1 hit of the multi-probe
    // index vs exact top-5, beside v_recall_eval's single-probe
    // numbers — the measured evidence that probing 1-bit-flip
    // neighbors buys recall (the ANN eval table's fifth row).
    "v_recall_eval_mp" -> ((s, d) => {
      import s.implicits._
      val mp = annLshMultiprobeTop5(s, d)
        .select($"qid", $"vec_id", $"rnk".as("mp_rnk"))
      val ex = annExactTop10(s, d).filter($"rnk" <= 5)
        .select($"qid", $"vec_id", $"rnk".as("ex_rnk"))
      val hits = mp.join(ex, Seq("qid", "vec_id"))
        .groupBy($"qid")
        .agg(count(lit(1)).as("hits"),
          min(when($"ex_rnk" === 1, $"mp_rnk")).as("top1_at"))
      ex.select($"qid").distinct()
        .join(hits, Seq("qid"), "left")
        .select($"qid", coalesce($"hits", lit(0L)).as("hits"),
          (coalesce($"hits", lit(0L)) * 20).as("recall_x100"),
          $"top1_at".isNotNull.cast("long").as("top1_hit"))
        .orderBy($"qid")
    }),

    // Multi-probe LSH (Lv et al. 2007): each query probes its bucket
    // AND the 8 one-bit-flip neighbors per table — the recall of many
    // more hash tables at the memory cost of one, since only the
    // QUERY side fans out (9× on 3 queries) while the corpus index
    // stays untouched. Same exact re-score discipline as single-probe.
    "v_ann_lsh_multiprobe" -> ((s, d) =>
      annLshMultiprobeTop5(s, d)
        .select(col("qid"), col("vec_id"),
          floor(col("cos") * 10000 + 0.5).cast("long").as("score_x10000"),
          col("rnk"))
        .orderBy(col("qid"), col("rnk"))),

    // ANN quality evaluation: recall@5 and top-1 hit of the LSH index
    // against the exact brute-force top-5, per query — the eval table a
    // production ANN deployment publishes next to its index. Both sides
    // are the already-gated pipelines; the join is per-(query, candidate)
    // — eval cost is O(queries·k), independent of corpus size.
    "v_recall_eval" -> ((s, d) => {
      import s.implicits._
      val lsh = annLshTop5(s, d).select($"qid", $"vec_id", $"rnk".as("lsh_rnk"))
      val ex = annExactTop10(s, d).filter($"rnk" <= 5)
        .select($"qid", $"vec_id", $"rnk".as("ex_rnk"))
      val hits = lsh.join(ex, Seq("qid", "vec_id"))
        .groupBy($"qid")
        .agg(count(lit(1)).as("hits"),
          min(when($"ex_rnk" === 1, $"lsh_rnk")).as("top1_at"))
      ex.select($"qid").distinct()
        .join(hits, Seq("qid"), "left")
        .select($"qid", coalesce($"hits", lit(0L)).as("hits"),
          (coalesce($"hits", lit(0L)) * 20).as("recall_x100"),
          $"top1_at".isNotNull.cast("long").as("top1_hit"))
        .orderBy($"qid")
    }),

    // MinHash sketch-accuracy audit: for every LSH candidate pair, the
    // signature-estimated Jaccard (matching minhashes / 8) next to the
    // EXACT shingle-set Jaccard — the calibration table that justifies a
    // banding threshold before a 100 TB dedup run. Exact-side work is
    // bounded by the candidate pairs (shingle joins restricted to pair
    // members), never all-pairs; lsh_ok pins the structural guarantee
    // that every banded candidate shares ≥ one 2-signature band.
    "x_minhash_est" -> ((s, d) => {
      import s.implicits._
      val docs = documents(s, d)
      // ONE shingle explode and ONE signature aggregation feed all three
      // consumers (candidate pairing, signature compare, exact-Jaccard
      // side) — lazily checkpointed so the corpus-sized explode
      // materializes once instead of once per consumer
      val sh = bigramShingles(docs).localCheckpoint(false)
      val sigs = minhashSigsFromShingles(sh).localCheckpoint(false)
      // three consumers (signature compare, member scoping, intersection
      // join) — the band/bucket/pair derivation materializes once
      val pairs = minhashCandidatePairsFromSigs(sigs).localCheckpoint(false)
      // exact-Jaccard work is scoped to PAIR PARTICIPANTS before any
      // shingle join: on a real corpus candidates touch a small fraction
      // of docs, so the semi-join shrinks the shingle table ahead of the
      // set aggregation (on this dup-heavy synthetic corpus most docs
      // participate, so the filter is ~neutral here). Each member's
      // DISTINCT shingle set packs into one array row (the d_ngram_jaccard
      // shape — collect_set dedups, so no separate distinct pass), and
      // |A∩B| / |A| / |B| all come from the two pair-side array joins —
      // where the exploded-row form paid a distinct exchange, a per-doc
      // count aggregation, a (id2, shingle)-keyed shuffle join and a
      // per-pair count groupBy. Array size is bounded by document length,
      // the same bound d_ngram_jaccard already rides at scale.
      val members = pairs.select(explode(array($"id1", $"id2")).as("doc_id"))
        .distinct()
      // ONE per-member side table carries BOTH the signature columns and
      // the packed shingle set (r20: the signature compare and the exact
      // side used to join the pair table four times — a/b sigs, w1/w2
      // sets; folding them into one member-info table halves the pair-side
      // joins to two and drops the separate sets checkpoint barrier).
      // Both inputs are already doc_id-clustered aggregation outputs, so
      // the fold join adds no exchange; two consumers (both pair sides)
      // — materialize once.
      val info = sh.join(members, "doc_id")
        .groupBy($"doc_id").agg(collect_set($"s").as("ws"))
        .join(sigs, "doc_id")
        .localCheckpoint(false)
      val a = info.select(($"doc_id").as("id1") +: $"ws".as("w1") +:
        (0 until 8).map(j => col(s"m$j").as(s"a$j")): _*)
      val b = info.select(($"doc_id").as("id2") +: $"ws".as("w2") +:
        (0 until 8).map(j => col(s"m$j").as(s"b$j")): _*)
      pairs.join(a, "id1").join(b, "id2")
        .select($"id1", $"id2",
          (0 until 8).map(j =>
            when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
            .reduce(_ + _).as("est_matches"),
          size(array_intersect($"w1", $"w2")).as("inter"),
          size($"w1").as("c1"), size($"w2").as("c2"))
        .select($"id1", $"id2", $"est_matches",
          ($"est_matches" * 1250).as("est_x10000"),
          floor(lit(10000.0) * $"inter" /
            ($"c1" + $"c2" - $"inter") + 0.5)
            .cast("long").as("jacc_x10000"),
          ($"est_matches" >= 2).cast("long").as("lsh_ok"))
        .orderBy($"id1", $"id2")
    }),

    // CCNet-style perplexity bucketing: per-language head/middle/tail
    // terciles of the unigram-LM mean surprisal (lower = more fluent).
    // The window partitions by lang — the x_quality_decile shape; the
    // 100 TB path replaces the in-partition sort with approx-quantile
    // boundaries exactly as x_len_quantiles_approx demonstrates.
    "x_ccnet_bucket" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val nll = unigramNllPerDoc(s, d)
      val withLang = nll.join(
        documents(s, d).select($"doc_id", $"lang"), "doc_id")
      val w = Window.partitionBy($"lang")
        .orderBy($"mean_nll_x1e6", $"doc_id")
      withLang
        .withColumn("tercile", ntile(3).over(w).cast("int"))
        .select($"doc_id", $"lang", $"mean_nll_x1e6",
          when($"tercile" === 1, "head").when($"tercile" === 2, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy($"doc_id")
    }))

  /** Oracle-side mirror of [[minhashCandidatePairs]]: shared CTE block +
    * the pair SELECT, so the clusters oracle can stack a recursive CTE on
    * the identical candidate-pair construction.
    */
  private[queries] val minhashCtesSql =
    """base AS (
           SELECT doc_id, string_split_regex(trim(text), ' +') AS w FROM documents),
         base2 AS (SELECT doc_id, w FROM base WHERE len(w) >= 2),
         sh AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 1),
               i -> w[i] || ' ' || w[i + 1])) AS s
           FROM base2),
         shh AS (SELECT doc_id, md5(s) AS hh FROM sh),
         hv AS (SELECT doc_id,
             ('0x' || substr(hh, 1, 8))::BIGINT AS h1,
             ('0x' || substr(hh, 9, 8))::BIGINT AS h2
           FROM shh),
         mh AS (SELECT doc_id, j, min(h1 + j * h2) AS m
           FROM hv CROSS JOIN range(0, 8) t(j) GROUP BY doc_id, j),
         sig AS (SELECT doc_id,
             md5(max(CASE WHEN j=0 THEN m END)::VARCHAR || '|' ||
               max(CASE WHEN j=1 THEN m END)::VARCHAR) AS h0,
             md5(max(CASE WHEN j=2 THEN m END)::VARCHAR || '|' ||
               max(CASE WHEN j=3 THEN m END)::VARCHAR) AS h1,
             md5(max(CASE WHEN j=4 THEN m END)::VARCHAR || '|' ||
               max(CASE WHEN j=5 THEN m END)::VARCHAR) AS h2,
             md5(max(CASE WHEN j=6 THEN m END)::VARCHAR || '|' ||
               max(CASE WHEN j=7 THEN m END)::VARCHAR) AS h3
           FROM mh GROUP BY doc_id),
         bands AS (
           SELECT doc_id, 0 AS band, h0 AS h FROM sig UNION ALL
           SELECT doc_id, 1, h1 FROM sig UNION ALL
           SELECT doc_id, 2, h2 FROM sig UNION ALL
           SELECT doc_id, 3, h3 FROM sig),
         bok AS (SELECT band, h FROM bands GROUP BY band, h
           HAVING count(*) <= 64)"""

  private val minhashPairSelectSql =
    """SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
         JOIN bok ON bok.band = a.band AND bok.h = a.h"""

  private val cosineSqlBody =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id IN (0,1,2)),
       c AS (SELECT vec_id, embedding AS ce FROM embeddings WHERE vec_id NOT IN (0,1,2)),
       dots AS (SELECT qid, vec_id,
           sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dp,
           sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
           sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc
         FROM q, c, range(1, 65) t(i) GROUP BY qid, vec_id),
       s AS (SELECT qid, vec_id, dp/(sqrt(nq)*sqrt(nc)) AS cos FROM dots)"""

  /** The v_kmeans pipeline as oracle CTEs (through `as2` = the final
    * (vec_id, cid, d2) assignment), shared by the clustering gate and
    * the semantic-dedup gate. Mirrors [[kmeansQuantized]] with
    * seeds (1,5,9,13) and 2 iterations, integer-for-integer.
    */
  private val kmeansCtesSql =
    """dims AS (SELECT vec_id, k,
             CAST(floor(CAST(embedding[k + 1] AS DOUBLE) * 1000) AS BIGINT) AS qv
           FROM embeddings, range(0, 64) t(k)),
         sq AS (SELECT vec_id, CAST(sum(qv * qv) AS BIGINT) AS qq
           FROM dims GROUP BY vec_id),
         cent1 AS (SELECT vec_id AS cid, k, qv AS sk, CAST(1 AS BIGINT) AS n
           FROM dims WHERE vec_id IN (1, 5, 9, 13)),
         stats1 AS (SELECT cid, CAST(sum(sk * sk) AS BIGINT) AS ss, max(n) AS n
           FROM cent1 GROUP BY cid),
         ip1 AS (SELECT d.vec_id, c.cid, CAST(sum(d.qv * c.sk) AS BIGINT) AS ip
           FROM dims d JOIN cent1 c ON d.k = c.k GROUP BY d.vec_id, c.cid),
         sc1 AS (SELECT i.vec_id, i.cid,
             s.n * s.n * q.qq - 2 * s.n * i.ip + s.ss AS d2,
             CAST(s.n * s.n * q.qq - 2 * s.n * i.ip + s.ss AS DOUBLE)
               / CAST(s.n * s.n AS DOUBLE) AS dd
           FROM ip1 i JOIN stats1 s USING (cid) JOIN sq q USING (vec_id)),
         as1 AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS r
             FROM sc1) WHERE r = 1),
         cent2 AS (SELECT a.cid, d.k, CAST(sum(d.qv) AS BIGINT) AS sk,
             count(*) AS n
           FROM dims d JOIN as1 a USING (vec_id) GROUP BY a.cid, d.k),
         stats2 AS (SELECT cid, CAST(sum(sk * sk) AS BIGINT) AS ss, max(n) AS n
           FROM cent2 WHERE n > 0 GROUP BY cid),
         ip2 AS (SELECT d.vec_id, c.cid, CAST(sum(d.qv * c.sk) AS BIGINT) AS ip
           FROM dims d JOIN (SELECT * FROM cent2 WHERE n > 0) c ON d.k = c.k
           GROUP BY d.vec_id, c.cid),
         sc2 AS (SELECT i.vec_id, i.cid,
             s.n * s.n * q.qq - 2 * s.n * i.ip + s.ss AS d2,
             CAST(s.n * s.n * q.qq - 2 * s.n * i.ip + s.ss AS DOUBLE)
               / CAST(s.n * s.n AS DOUBLE) AS dd
           FROM ip2 i JOIN stats2 s USING (cid) JOIN sq q USING (vec_id)),
         as2 AS (SELECT vec_id, cid, d2 FROM (
             SELECT vec_id, cid, d2,
               row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS r
             FROM sc2) WHERE r = 1)"""

  val oracles: Map[String, String] = Map(
    "d_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS copies
         FROM documents GROUP BY md5(text) ORDER BY h""",
    "d_minhash_lsh" ->
      s"""WITH $minhashCtesSql
         $minhashPairSelectSql
         ORDER BY id1, id2""",
    "d_dedup_clusters" ->
      s"""WITH RECURSIVE $minhashCtesSql,
         pr AS ($minhashPairSelectSql),
         sym AS (SELECT id1 AS a, id2 AS b FROM pr
           UNION ALL SELECT id2, id1 FROM pr),
         reach(doc_id, lbl) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT s.a, r.lbl FROM sym s JOIN reach r ON r.doc_id = s.b),
         cl AS (SELECT doc_id, min(lbl) AS cluster_id FROM reach GROUP BY 1)
         SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS members
         FROM cl ORDER BY doc_id""",
    // identical components regardless of algorithm: the star-contraction
    // path is gated against the SAME recursive-CTE walk
    "d_dedup_clusters_star" ->
      s"""WITH RECURSIVE $minhashCtesSql,
         pr AS ($minhashPairSelectSql),
         sym AS (SELECT id1 AS a, id2 AS b FROM pr
           UNION ALL SELECT id2, id1 FROM pr),
         reach(doc_id, lbl) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT s.a, r.lbl FROM sym s JOIN reach r ON r.doc_id = s.b),
         cl AS (SELECT doc_id, min(lbl) AS cluster_id FROM reach GROUP BY 1)
         SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS members
         FROM cl ORDER BY doc_id""",
    "x_pii_scrub" ->
      """WITH doc AS (SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@example.com via 10.0.' || CAST(doc_id % 256 AS VARCHAR)
               || '.7 or ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
               || '-555-0199' AS t
           FROM documents),
         scr AS (SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
               '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS red,
             CAST(len(regexp_extract_all(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
               AS n_email,
             CAST(len(regexp_extract_all(t,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ip
           FROM doc)
         SELECT doc_id, n_email, n_ip,
           CAST(len(regexp_extract_all(red, '<PHONE>')) AS INT) AS n_phone,
           md5(red) AS red_md5
         FROM scr ORDER BY doc_id""",
    "d_ngram_jaccard" ->
      """WITH docs AS (SELECT doc_id,
             list_distinct(string_split_regex(trim(text), ' +')) AS w
           FROM documents WHERE doc_id < 60),
         pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
             len(list_intersect(a.w, b.w)) AS inter,
             len(a.w) + len(b.w) - len(list_intersect(a.w, b.w)) AS uni
           FROM docs a JOIN docs b ON a.doc_id < b.doc_id)
         SELECT id1, id2,
           CAST(floor(10000.0::DOUBLE * inter / uni + 0.5) AS BIGINT) AS jac_x10000
         FROM pairs WHERE floor(10000.0::DOUBLE * inter / uni + 0.5) >= 3000
         ORDER BY id1, id2""",
    "d_simhash" ->
      """WITH w AS (SELECT doc_id,
             md5(unnest(string_split_regex(trim(text), ' +'))) AS h
           FROM documents WHERE len(trim(text)) > 0),
         w2 AS (SELECT doc_id, h FROM w WHERE h IS NOT NULL),
         b AS (SELECT doc_id, j,
             CASE WHEN sum(CASE WHEN substr(h, j + 1, 1) >= '8' THEN 1 ELSE -1 END) > 0
               THEN 1 ELSE 0 END AS bit
           FROM w2 CROSS JOIN range(0, 16) t(j) GROUP BY doc_id, j)
         SELECT doc_id, CAST(sum(bit * (1 << j)) AS BIGINT) AS simhash
         FROM b GROUP BY doc_id ORDER BY doc_id""",
    "d_simhash_neardup" ->
      """WITH w AS (SELECT doc_id,
             md5(unnest(string_split_regex(trim(text), ' +'))) AS h
           FROM documents WHERE len(trim(text)) > 0),
         w2 AS (SELECT doc_id, h FROM w WHERE h IS NOT NULL),
         b AS (SELECT doc_id, j,
             CASE WHEN sum(CASE WHEN substr(h, j + 1, 1) >= '8' THEN 1 ELSE -1 END) > 0
               THEN 1 ELSE 0 END AS bit
           FROM w2 CROSS JOIN range(0, 32) t(j) GROUP BY doc_id, j),
         s AS (SELECT doc_id, CAST(sum(bit * (1::BIGINT << j)) AS BIGINT) AS fp
           FROM b GROUP BY doc_id),
         bands AS (SELECT doc_id, fp, t.b AS band,
             CAST((fp >> (8 * t.b)) % 256 AS INT) AS byte
           FROM s CROSS JOIN range(0, 4) t(b)),
         pr AS (SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2,
             CAST(bit_count(xor(a.fp, c.fp)) AS INT) AS hamming
           FROM bands a JOIN bands c
             ON a.band = c.band AND a.byte = c.byte AND a.doc_id < c.doc_id)
         SELECT id1, id2, hamming FROM pr WHERE hamming <= 1
         ORDER BY id1, id2""",
    "d_fingerprint" ->
      """SELECT doc_id,
         md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fp
         FROM documents ORDER BY doc_id""",
    "x_text_stats" ->
      """SELECT doc_id,
         CAST(len(string_split_regex(trim(text), ' +')) AS INT) AS tokens,
         CAST(len(list_distinct(string_split_regex(trim(text), ' +'))) AS INT)
           AS distinct_tokens,
         CAST(len(list_filter(string_split_regex(trim(text), ' +'),
           x -> x IN ('the', 'a', 'data', 'row', 'join'))) AS INT) AS stop_hits,
         CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS INT)
           AS vowels,
         CAST(length(text) AS INT) AS chars
         FROM documents WHERE length(trim(text)) > 0 ORDER BY doc_id""",
    "x_langid" ->
      """WITH sc AS (SELECT doc_id,
           CAST(len(list_filter(string_split_regex(trim(text), ' +'),
             x -> x IN ('the', 'a', 'of', 'and'))) AS INT) AS s_en,
           CAST(len(list_filter(string_split_regex(trim(text), ' +'),
             x -> x IN ('el', 'la', 'de', 'y'))) AS INT) AS s_es,
           CAST(len(list_filter(string_split_regex(trim(text), ' +'),
             x -> x IN ('der', 'die', 'das', 'und'))) AS INT) AS s_de
           FROM documents)
         SELECT doc_id,
           CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
                WHEN s_es >= s_de THEN 'es' ELSE 'de' END AS pred_lang,
           s_en, s_es, s_de
         FROM sc ORDER BY doc_id""",
    "d_embed_neardup" ->
      """WITH dots AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
           sum(CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)) AS dp,
           sum(CAST(a.embedding[k] AS DOUBLE) * CAST(a.embedding[k] AS DOUBLE)) AS na,
           sum(CAST(b.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)) AS nb
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id,
             range(1, 65) t(k)
           GROUP BY 1, 2),
         s AS (SELECT id1, id2, dp/(sqrt(na)*sqrt(nb)) AS cos FROM dots)
         SELECT id1, id2, CAST(floor(cos*10000 + 0.5) AS BIGINT) AS score_x10000
         FROM s WHERE cos >= 0.45 ORDER BY id1, id2""",
    "d_embed_neardup_lsh" ->
      s"""WITH $lshBucketsSql,
         bok AS (SELECT tbl, bkt FROM bits GROUP BY tbl, bkt
           HAVING count(*) <= 64),
         cand AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
           FROM bits a JOIN bits b
             ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id
           JOIN bok ON bok.tbl = a.tbl AND bok.bkt = a.bkt),
         dots AS (SELECT cand.id1, cand.id2,
             sum(CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)) AS dp,
             sum(CAST(a.embedding[k] AS DOUBLE) * CAST(a.embedding[k] AS DOUBLE)) AS na,
             sum(CAST(b.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)) AS nb
           FROM cand JOIN embeddings a ON a.vec_id = cand.id1
             JOIN embeddings b ON b.vec_id = cand.id2, range(1, 65) t(k)
           GROUP BY 1, 2),
         s AS (SELECT id1, id2, dp/(sqrt(na)*sqrt(nb)) AS cos FROM dots)
         SELECT id1, id2, CAST(floor(cos*10000 + 0.5) AS BIGINT) AS score_x10000
         FROM s WHERE cos >= 0.45 ORDER BY id1, id2""",
    "v_cluster_silhouette" ->
      s"""WITH $kmeansCtesSql,
         cent3 AS (SELECT a.cid, d.k, CAST(sum(d.qv) AS BIGINT) AS sk,
             count(*) AS n
           FROM dims d JOIN as2 a USING (vec_id) GROUP BY 1, 2),
         stats3 AS (SELECT cid, CAST(sum(sk * sk) AS BIGINT) AS ss,
             max(n) AS n
           FROM cent3 GROUP BY 1),
         ip3 AS (SELECT d.vec_id, c.cid, CAST(sum(d.qv * c.sk) AS BIGINT) AS ip
           FROM dims d JOIN cent3 c USING (k) GROUP BY 1, 2),
         dd3 AS (SELECT i.vec_id, i.cid,
             CAST(s.n * s.n * q.qq - 2 * s.n * i.ip + s.ss AS DOUBLE)
               / CAST(s.n * s.n AS DOUBLE) AS dd
           FROM ip3 i JOIN stats3 s USING (cid) JOIN sq q USING (vec_id)),
         ownd AS (SELECT d.vec_id, a.cid AS own, d.cid, d.dd
           FROM dd3 d JOIN as2 a USING (vec_id)),
         aa AS (SELECT vec_id, own, sqrt(dd) AS adist
           FROM ownd WHERE cid = own),
         bb AS (SELECT vec_id, min(sqrt(dd)) AS bdist
           FROM ownd WHERE cid <> own GROUP BY 1),
         sil AS (SELECT aa.vec_id, aa.own AS cid,
             CAST(floor((bb.bdist - aa.adist)
               / greatest(aa.adist, bb.bdist) * 1e6) AS BIGINT) AS sil_x1e6
           FROM aa JOIN bb USING (vec_id))
         SELECT cid, count(*) AS n_pts,
           CAST(floor(avg(sil_x1e6)) AS BIGINT) AS mean_sil_x1e6,
           min(sil_x1e6) AS min_sil, max(sil_x1e6) AS max_sil
         FROM sil GROUP BY 1 ORDER BY cid""",
    "v_knn_graph" ->
      s"""WITH $lshBucketsSql,
         bok AS (SELECT tbl, bkt FROM bits GROUP BY tbl, bkt
           HAVING count(*) <= 64),
         cand AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
           FROM bits a JOIN bits b
             ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id
           JOIN bok ON bok.tbl = a.tbl AND bok.bkt = a.bkt),
         dots AS (SELECT cand.id1, cand.id2,
             sum(CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)) AS dp,
             sum(CAST(a.embedding[k] AS DOUBLE) * CAST(a.embedding[k] AS DOUBLE)) AS na,
             sum(CAST(b.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)) AS nb
           FROM cand JOIN embeddings a ON a.vec_id = cand.id1
             JOIN embeddings b ON b.vec_id = cand.id2, range(1, 65) t(k)
           GROUP BY 1, 2),
         sc AS (SELECT id1, id2, dp/(sqrt(na)*sqrt(nb)) AS cos FROM dots),
         sym AS (SELECT id1 AS node, id2 AS nbr, cos FROM sc
           UNION ALL SELECT id2, id1, cos FROM sc),
         rk AS (SELECT node, nbr, cos,
             CAST(row_number() OVER (PARTITION BY node
               ORDER BY cos DESC, nbr) AS INT) AS rnk
           FROM sym)
         SELECT node, nbr,
           CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS score_x10000, rnk
         FROM rk WHERE rnk <= 3 ORDER BY node, rnk""",
    "x_bpe_tokens" ->
      """SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]|[^A-Za-z0-9 ]')) AS INT)
           AS bpe_tokens,
         CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT) AS word_tokens
         FROM documents ORDER BY doc_id""",
    "v_ann_cosine" ->
      s"""$cosineSqlBody
         SELECT qid, vec_id,
           CAST(floor(cos*10000 + 0.5) AS BIGINT) AS score_x10000, rnk
         FROM (SELECT qid, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT)
               AS rnk FROM s)
         WHERE rnk <= 10 ORDER BY qid, rnk""",
    "v_ann_topk" ->
      s"""$cosineSqlBody
         SELECT qid, vec_id,
           CAST(floor(cos*10000 + 0.5) AS BIGINT) AS score_x10000, rnk
         FROM (SELECT qid, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT)
               AS rnk FROM s)
         WHERE rnk <= 10 ORDER BY qid, rnk""",
    "x_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel
           FROM embeddings WHERE vec_id IN (0,1,2)),
         c AS (SELECT vec_id, embedding AS ce, label
           FROM embeddings WHERE vec_id NOT IN (0,1,2)),
         dots AS (SELECT qid, vec_id,
             sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dp,
             sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
             sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc
           FROM q, c, range(1, 65) t(i)
           WHERE c.label <> q.qlabel GROUP BY qid, vec_id),
         s AS (SELECT qid, vec_id, dp/(sqrt(nq)*sqrt(nc)) AS cos FROM dots)
         SELECT qid, vec_id,
           CAST(floor(cos*10000 + 0.5) AS BIGINT) AS score_x10000, rnk
         FROM (SELECT qid, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT)
               AS rnk FROM s)
         WHERE rnk <= 5 ORDER BY qid, rnk""",
    "v_ann_ivf" ->
      """WITH dims AS (SELECT vec_id, CAST(vec_id % 8 AS INT) AS grp, k,
             CAST(floor(CAST(embedding[k + 1] AS DOUBLE) * 1000) AS BIGINT) AS qv
           FROM embeddings, range(0, 64) t(k)),
         cent AS (SELECT grp AS cgrp, k, CAST(sum(qv) AS BIGINT) AS cs
           FROM dims GROUP BY 1, 2),
         scores AS (SELECT d.vec_id, c.cgrp, sum(d.qv * c.cs) AS ip
           FROM dims d JOIN cent c USING (k) GROUP BY 1, 2),
         ranked AS (SELECT vec_id, cgrp,
             row_number() OVER (PARTITION BY vec_id ORDER BY ip DESC, cgrp) AS rk
           FROM scores),
         assign AS (SELECT vec_id, cgrp FROM ranked WHERE rk = 1),
         probe AS (SELECT vec_id AS qid, cgrp FROM ranked
           WHERE vec_id IN (0, 1, 2) AND rk <= 2),
         cand AS (SELECT DISTINCT p.qid, a.vec_id
           FROM assign a JOIN probe p USING (cgrp)
           WHERE a.vec_id NOT IN (0, 1, 2)),
         dots AS (SELECT cand.qid, cand.vec_id,
             sum(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS dp,
             sum(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)) AS nq,
             sum(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS nc
           FROM cand JOIN embeddings a ON a.vec_id = cand.qid
             JOIN embeddings b ON b.vec_id = cand.vec_id, range(1, 65) t(i)
           GROUP BY 1, 2),
         s AS (SELECT qid, vec_id, dp/(sqrt(nq)*sqrt(nc)) AS cos FROM dots)
         SELECT qid, vec_id,
           CAST(floor(cos*10000 + 0.5) AS BIGINT) AS score_x10000, rnk
         FROM (SELECT qid, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT)
               AS rnk FROM s)
         WHERE rnk <= 5 ORDER BY qid, rnk""",
    "v_recall_eval_ivf" ->
      """WITH dims AS (SELECT vec_id, CAST(vec_id % 8 AS INT) AS grp, k,
             CAST(floor(CAST(embedding[k + 1] AS DOUBLE) * 1000) AS BIGINT) AS qv
           FROM embeddings, range(0, 64) t(k)),
         cent AS (SELECT grp AS cgrp, k, CAST(sum(qv) AS BIGINT) AS cs
           FROM dims GROUP BY 1, 2),
         scores AS (SELECT d.vec_id, c.cgrp, sum(d.qv * c.cs) AS ip
           FROM dims d JOIN cent c USING (k) GROUP BY 1, 2),
         ranked AS (SELECT vec_id, cgrp,
             row_number() OVER (PARTITION BY vec_id ORDER BY ip DESC, cgrp) AS rk
           FROM scores),
         assign AS (SELECT vec_id, cgrp FROM ranked WHERE rk = 1),
         probe AS (SELECT vec_id AS qid, cgrp FROM ranked
           WHERE vec_id IN (0, 1, 2) AND rk <= 2),
         cand AS (SELECT DISTINCT p.qid, a.vec_id
           FROM assign a JOIN probe p USING (cgrp)
           WHERE a.vec_id NOT IN (0, 1, 2)),
         idots AS (SELECT cand.qid, cand.vec_id,
             sum(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS dp,
             sum(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)) AS nq,
             sum(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS nc
           FROM cand JOIN embeddings a ON a.vec_id = cand.qid
             JOIN embeddings b ON b.vec_id = cand.vec_id, range(1, 65) t(i)
           GROUP BY 1, 2),
         ivf5 AS (SELECT qid, vec_id, rnk FROM (SELECT qid, vec_id,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY dp/(sqrt(nq)*sqrt(nc)) DESC, vec_id) AS INT) AS rnk
           FROM idots) WHERE rnk <= 5),
         eq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
           WHERE vec_id IN (0,1,2)),
         ec AS (SELECT vec_id, embedding AS ce FROM embeddings
           WHERE vec_id NOT IN (0,1,2)),
         edots AS (SELECT qid, vec_id,
             sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dp,
             sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
             sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc
           FROM eq, ec, range(1, 65) t(i) GROUP BY qid, vec_id),
         ex5 AS (SELECT qid, vec_id, rnk FROM (SELECT qid, vec_id,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY dp/(sqrt(nq)*sqrt(nc)) DESC, vec_id) AS INT) AS rnk
           FROM edots) WHERE rnk <= 5),
         h AS (SELECT i.qid, count(*) AS hits,
             min(CASE WHEN e.rnk = 1 THEN i.rnk END) AS top1_at
           FROM ivf5 i JOIN ex5 e
             ON i.qid = e.qid AND i.vec_id = e.vec_id
           GROUP BY 1)
         SELECT q.qid, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
           CAST(coalesce(h.hits, 0) * 20 AS BIGINT) AS recall_x100,
           CAST(CASE WHEN h.top1_at IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS top1_hit
         FROM (SELECT DISTINCT qid FROM ex5) q
         LEFT JOIN h USING (qid) ORDER BY q.qid""",
    "x_bitext_mine" ->
      """WITH lg AS (SELECT doc_id, lang FROM documents),
         v AS (SELECT e.vec_id, lg.lang, e.embedding
           FROM embeddings e JOIN lg ON e.vec_id = lg.doc_id),
         q AS (SELECT vec_id AS qid, embedding AS qe FROM v
           WHERE lang = 'en'),
         c AS (SELECT vec_id, lang, embedding AS ce FROM v
           WHERE lang <> 'en'),
         dots AS (SELECT qid, c.vec_id, c.lang,
             sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dp,
             sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
             sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc
           FROM q, c, range(1, 65) t(i) GROUP BY 1, 2, 3),
         s AS (SELECT qid, vec_id, lang, dp/(sqrt(nq)*sqrt(nc)) AS cos
           FROM dots),
         r AS (SELECT *, row_number() OVER (PARTITION BY qid
             ORDER BY cos DESC, vec_id) AS rnk FROM s),
         t4 AS (SELECT * FROM r WHERE rnk <= 4),
         g AS (SELECT qid, sum(cos) AS s4, count(*) AS n4 FROM t4
           GROUP BY 1),
         b AS (SELECT qid, vec_id AS match_id, lang AS match_lang, cos
           FROM t4 WHERE rnk = 1)
         SELECT b.qid, b.match_id, b.match_lang,
           CAST(floor(b.cos * 10000 + 0.5) AS BIGINT) AS cos_x10000,
           CAST(floor(b.cos * g.n4 * 10000 / g.s4) AS BIGINT)
             AS margin_x10000,
           CAST(1 AS BIGINT) AS accepted
         FROM b JOIN g USING (qid)
         WHERE floor(b.cos * g.n4 * 10000 / g.s4) >= 10600
         ORDER BY qid""",
    "x_mmr_diversify" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         rd AS (SELECT c.vec_id,
             sum(CAST(qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))
               AS dp,
             sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
             sum(CAST(c.embedding[i] AS DOUBLE) *
               CAST(c.embedding[i] AS DOUBLE)) AS nc
           FROM q, embeddings c, range(1, 65) t(i)
           WHERE c.vec_id <> 0 GROUP BY 1),
         rel0 AS (SELECT vec_id,
             CAST(floor(dp/(sqrt(nq)*sqrt(nc)) * 10000 + 0.5) AS BIGINT)
               AS rel
           FROM rd),
         top AS (SELECT r.vec_id, r.rel, e.embedding
           FROM rel0 r JOIN embeddings e USING (vec_id)
           ORDER BY r.rel DESC, r.vec_id LIMIT 15),
         pd AS (SELECT x.vec_id AS a, y.vec_id AS b,
             sum(CAST(x.embedding[i] AS DOUBLE) *
               CAST(y.embedding[i] AS DOUBLE)) AS dp,
             sum(CAST(x.embedding[i] AS DOUBLE) *
               CAST(x.embedding[i] AS DOUBLE)) AS na,
             sum(CAST(y.embedding[i] AS DOUBLE) *
               CAST(y.embedding[i] AS DOUBLE)) AS nb
           FROM top x, top y, range(1, 65) t(i)
           WHERE x.vec_id <> y.vec_id GROUP BY 1, 2),
         sims AS (SELECT a, b,
             CAST(floor(dp/(sqrt(na)*sqrt(nb)) * 10000 + 0.5) AS BIGINT)
               AS sim
           FROM pd),
         s1 AS (SELECT vec_id, 1 AS rnk, rel * 2 AS m FROM top
           ORDER BY rel DESC, vec_id LIMIT 1),
         c2 AS (SELECT t.vec_id, t.rel, max(s.sim) AS ms
           FROM top t JOIN sims s ON s.a = t.vec_id
             AND s.b IN (SELECT vec_id FROM s1)
           WHERE t.vec_id NOT IN (SELECT vec_id FROM s1) GROUP BY 1, 2),
         s2 AS (SELECT vec_id, 2 AS rnk, rel * 2 - ms AS m FROM c2
           ORDER BY rel * 2 - ms DESC, vec_id LIMIT 1),
         sel2 AS (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2),
         c3 AS (SELECT t.vec_id, t.rel, max(s.sim) AS ms
           FROM top t JOIN sims s ON s.a = t.vec_id
             AND s.b IN (SELECT vec_id FROM sel2)
           WHERE t.vec_id NOT IN (SELECT vec_id FROM sel2) GROUP BY 1, 2),
         s3 AS (SELECT vec_id, 3 AS rnk, rel * 2 - ms AS m FROM c3
           ORDER BY rel * 2 - ms DESC, vec_id LIMIT 1),
         sel3 AS (SELECT vec_id FROM sel2 UNION ALL SELECT vec_id FROM s3),
         c4 AS (SELECT t.vec_id, t.rel, max(s.sim) AS ms
           FROM top t JOIN sims s ON s.a = t.vec_id
             AND s.b IN (SELECT vec_id FROM sel3)
           WHERE t.vec_id NOT IN (SELECT vec_id FROM sel3) GROUP BY 1, 2),
         s4 AS (SELECT vec_id, 4 AS rnk, rel * 2 - ms AS m FROM c4
           ORDER BY rel * 2 - ms DESC, vec_id LIMIT 1),
         sel4 AS (SELECT vec_id FROM sel3 UNION ALL SELECT vec_id FROM s4),
         c5 AS (SELECT t.vec_id, t.rel, max(s.sim) AS ms
           FROM top t JOIN sims s ON s.a = t.vec_id
             AND s.b IN (SELECT vec_id FROM sel4)
           WHERE t.vec_id NOT IN (SELECT vec_id FROM sel4) GROUP BY 1, 2),
         s5 AS (SELECT vec_id, 5 AS rnk, rel * 2 - ms AS m FROM c5
           ORDER BY rel * 2 - ms DESC, vec_id LIMIT 1)
         SELECT vec_id, CAST(rnk AS BIGINT) AS rnk,
           CAST(m AS BIGINT) AS mmr_x10000
         FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
           UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
           UNION ALL SELECT * FROM s5)
         ORDER BY rnk""",
    "x_hybrid_rrf" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS w
           FROM documents WHERE len(trim(text)) > 0),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(w)) AS BIGINT) AS a FROM d),
         t AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
             unnest(w) AS term FROM d),
         tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
           FROM t WHERE term IN ('hash', 'join', 'batch') GROUP BY 1, 2, 3),
         dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
           FROM tf GROUP BY 1),
         sc AS (SELECT doc_id, CAST(sum(
             (((1000 * n_docs) // df) * (44 * a * tf))
               // (20 * a * tf + 6 * a + 18 * dl * n_docs)
           ) AS BIGINT) AS score
           FROM tf JOIN dfq USING (term), st GROUP BY 1),
         bmtop AS (SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT 15),
         bmr AS (SELECT doc_id, CAST(row_number() OVER
             (ORDER BY score DESC, doc_id) AS BIGINT) AS r_bm FROM bmtop),
         q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         dots AS (SELECT c.vec_id AS doc_id,
             sum(CAST(qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))
               AS dp,
             sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
             sum(CAST(c.embedding[i] AS DOUBLE) *
               CAST(c.embedding[i] AS DOUBLE)) AS nc
           FROM q, embeddings c, range(1, 65) t(i)
           WHERE c.vec_id <> 0 GROUP BY 1),
         vtop AS (SELECT doc_id, dp/(sqrt(nq)*sqrt(nc)) AS cos FROM dots
           ORDER BY cos DESC, doc_id LIMIT 15),
         vr AS (SELECT doc_id, CAST(row_number() OVER
             (ORDER BY cos DESC, doc_id) AS BIGINT) AS r_vec FROM vtop),
         f AS (SELECT coalesce(bmr.doc_id, vr.doc_id) AS doc_id,
             bmr.r_bm, vr.r_vec
           FROM bmr FULL OUTER JOIN vr ON bmr.doc_id = vr.doc_id)
         SELECT doc_id, coalesce(r_bm, 0) AS r_bm,
           coalesce(r_vec, 0) AS r_vec,
           coalesce(1000000 // (60 + r_bm), 0) +
             coalesce(1000000 // (60 + r_vec), 0) AS rrf_x1e6
         FROM f ORDER BY rrf_x1e6 DESC, doc_id LIMIT 10""",
    "x_snippet_extract" ->
      """WITH w AS (SELECT doc_id,
             unnest(string_split_regex(trim(text), ' +')) AS tk,
             generate_subscripts(string_split_regex(trim(text), ' +'), 1)
               - 1 AS pos
           FROM documents WHERE len(trim(text)) > 0),
         h AS (SELECT doc_id, pos FROM w
           WHERE tk IN ('hash', 'join', 'batch')),
         wh AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY doc_id
             ORDER BY pos RANGE BETWEEN CURRENT ROW AND 9 FOLLOWING)
             AS win_hits
           FROM h),
         r AS (SELECT doc_id, pos, win_hits,
             count(*) OVER (PARTITION BY doc_id) AS n_hits,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY win_hits DESC, pos) AS rn
           FROM wh)
         SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits,
           CAST(win_hits AS BIGINT) AS best_win_hits,
           CAST(pos AS BIGINT) AS best_start
         FROM r WHERE rn = 1 AND n_hits >= 2 ORDER BY doc_id""",
    "v_maxsim_retrieval" ->
      """WITH t AS (SELECT vec_id // 4 AS doc, vec_id, embedding
           FROM embeddings),
         q AS (SELECT vec_id AS qvid, embedding AS qe FROM t WHERE doc = 0),
         c AS (SELECT doc, vec_id AS cvid, embedding AS ce
           FROM t WHERE doc <> 0),
         dots AS (SELECT c.doc, c.cvid, q.qvid,
             sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dp,
             sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
             sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc
           FROM q, c, range(1, 65) t(i)
           GROUP BY c.doc, c.cvid, q.qvid),
         mx AS (SELECT doc, qvid, max(dp/(sqrt(nq)*sqrt(nc))) AS m
           FROM dots GROUP BY 1, 2),
         sc AS (SELECT doc,
             CAST(floor(sum(m) * 10000 + 0.5) AS BIGINT) AS maxsim_x10000
           FROM mx GROUP BY 1)
         SELECT CAST(doc AS BIGINT) AS doc, maxsim_x10000 FROM sc
         ORDER BY maxsim_x10000 DESC, doc LIMIT 5""",
    "v_ann_filtered" ->
      """WITH q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qe
           FROM embeddings WHERE vec_id IN (0,1,2)),
         c AS (SELECT vec_id, label, embedding AS ce
           FROM embeddings WHERE vec_id NOT IN (0,1,2)),
         dots AS (SELECT qid, qlabel, vec_id, label,
             sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dp,
             sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
             sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc
           FROM q, c, range(1, 65) t(i)
           GROUP BY qid, qlabel, vec_id, label),
         s AS (SELECT qid, qlabel, vec_id, label,
             dp/(sqrt(nq)*sqrt(nc)) AS cos FROM dots),
         pre AS (SELECT qid, 'prefilter' AS strategy, rnk, vec_id,
             CAST(floor(cos*10000 + 0.5) AS BIGINT) AS score_x10000
           FROM (SELECT *, CAST(row_number() OVER (PARTITION BY qid
               ORDER BY cos DESC, vec_id) AS INT) AS rnk
             FROM s WHERE label = qlabel)
           WHERE rnk <= 3),
         g AS (SELECT *, row_number() OVER (PARTITION BY qid
             ORDER BY cos DESC, vec_id) AS grnk FROM s),
         post AS (SELECT qid, 'postfilter' AS strategy, rnk, vec_id,
             CAST(floor(cos*10000 + 0.5) AS BIGINT) AS score_x10000
           FROM (SELECT *, CAST(row_number() OVER (PARTITION BY qid
               ORDER BY cos DESC, vec_id) AS INT) AS rnk
             FROM g WHERE grnk <= 10 AND label = qlabel)
           WHERE rnk <= 3)
         SELECT * FROM pre UNION ALL SELECT * FROM post
         ORDER BY qid, strategy, rnk""",
    "v_recall_eval_mrl" ->
      """WITH eq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
           WHERE vec_id IN (0,1,2)),
         ec AS (SELECT vec_id, embedding AS ce FROM embeddings
           WHERE vec_id NOT IN (0,1,2)),
         pdots AS (SELECT qid, vec_id,
             sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dp,
             sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
             sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc
           FROM eq, ec, range(1, 17) t(i) GROUP BY qid, vec_id),
         mrl5 AS (SELECT qid, vec_id, rnk FROM (SELECT qid, vec_id,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY dp/(sqrt(nq)*sqrt(nc)) DESC, vec_id) AS INT) AS rnk
           FROM pdots) WHERE rnk <= 5),
         edots AS (SELECT qid, vec_id,
             sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dp,
             sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
             sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc
           FROM eq, ec, range(1, 65) t(i) GROUP BY qid, vec_id),
         ex5 AS (SELECT qid, vec_id, rnk FROM (SELECT qid, vec_id,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY dp/(sqrt(nq)*sqrt(nc)) DESC, vec_id) AS INT) AS rnk
           FROM edots) WHERE rnk <= 5),
         h AS (SELECT m.qid, count(*) AS hits,
             min(CASE WHEN e.rnk = 1 THEN m.rnk END) AS top1_at
           FROM mrl5 m JOIN ex5 e
             ON m.qid = e.qid AND m.vec_id = e.vec_id
           GROUP BY 1)
         SELECT q.qid, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
           CAST(coalesce(h.hits, 0) * 20 AS BIGINT) AS recall_x100,
           CAST(CASE WHEN h.top1_at IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS top1_hit
         FROM (SELECT DISTINCT qid FROM ex5) q
         LEFT JOIN h USING (qid) ORDER BY q.qid""",
    // Integer-for-integer replay of the PQ pipeline (the construction is
    // order-free on purpose): codebook from fixed 16-vector seed blocks,
    // encoding by min(ss - 32*ip), ADC sum, top-30 candidates, exact
    // re-score. recall_ok is pinned to LITERAL 1 — the Spark side computes
    // it from actual overlap with exact top-5, so the hash gate fails if
    // PQ answer quality drops below PqRecallBand.
    "v_ann_pq" ->
      """WITH dims AS (SELECT vec_id, CAST(k // 4 AS INT) AS m, k,
             CAST(floor(CAST(embedding[k + 1] AS DOUBLE) * 1000) AS BIGINT) AS qv
           FROM embeddings, range(0, 64) t(k)),
         code AS (SELECT CAST(vec_id // 16 AS INT) AS j, m, k,
             CAST(sum(qv) AS BIGINT) AS sk
           FROM dims WHERE vec_id < 256 GROUP BY 1, 2, 3),
         cstat AS (SELECT m, j, CAST(sum(sk * sk) AS BIGINT) AS ss
           FROM code GROUP BY 1, 2),
         ip AS (SELECT d.vec_id, c.m, c.j, CAST(sum(d.qv * c.sk) AS BIGINT) AS ip
           FROM dims d JOIN code c ON d.m = c.m AND d.k = c.k GROUP BY 1, 2, 3),
         codes AS (SELECT vec_id, m, j FROM (
             SELECT i.vec_id, i.m, i.j,
               row_number() OVER (PARTITION BY i.vec_id, i.m
                 ORDER BY s.ss - 32 * i.ip, i.j) AS rk
             FROM ip i JOIN cstat s ON i.m = s.m AND i.j = s.j)
           WHERE rk = 1),
         qip AS (SELECT vec_id AS qid, m, j, ip AS qip FROM ip
           WHERE vec_id IN (0, 1, 2)),
         adc AS (SELECT q.qid, c.vec_id, CAST(sum(q.qip) AS BIGINT) AS adc
           FROM codes c JOIN qip q ON c.m = q.m AND c.j = q.j
           WHERE c.vec_id NOT IN (0, 1, 2) GROUP BY 1, 2),
         cand AS (SELECT qid, vec_id FROM (
             SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id) AS rk
             FROM adc) WHERE rk <= 150),
         dots AS (SELECT cand.qid, cand.vec_id,
             sum(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS dp,
             sum(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)) AS nq,
             sum(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS nc
           FROM cand JOIN embeddings a ON a.vec_id = cand.qid
             JOIN embeddings b ON b.vec_id = cand.vec_id, range(1, 65) t(i)
           GROUP BY 1, 2),
         s AS (SELECT qid, vec_id, dp/(sqrt(nq)*sqrt(nc)) AS cos FROM dots)
         SELECT qid, vec_id,
           CAST(floor(cos*10000 + 0.5) AS BIGINT) AS score_x10000, rnk,
           CAST(1 AS INT) AS recall_ok
         FROM (SELECT qid, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT)
               AS rnk FROM s)
         WHERE rnk <= 5 ORDER BY qid, rnk""",
    "v_kmeans" ->
      s"""WITH $kmeansCtesSql
         SELECT vec_id, cid, d2 FROM as2 ORDER BY vec_id""",
    "d_semantic_threshold_sweep" ->
      s"""WITH $kmeansCtesSql,
         emb AS (SELECT e.vec_id, e.embedding, a.cid
           FROM embeddings e JOIN as2 a USING (vec_id)),
         dots AS (SELECT a.cid, a.vec_id AS id1, b.vec_id AS id2,
           sum(CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)) AS dp,
           sum(CAST(a.embedding[k] AS DOUBLE) * CAST(a.embedding[k] AS DOUBLE)) AS na,
           sum(CAST(b.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)) AS nb
           FROM emb a JOIN emb b ON a.cid = b.cid AND a.vec_id < b.vec_id,
             range(1, 65) t(k)
           GROUP BY 1, 2, 3),
         s AS (SELECT dp/(sqrt(na)*sqrt(nb)) AS cos FROM dots),
         thr AS (SELECT unnest([45, 80, 90, 95]) AS thr_x100),
         cnt AS (SELECT thr.thr_x100, count(*) AS n
           FROM s, thr WHERE s.cos >= thr.thr_x100 / 100.0 GROUP BY 1)
         SELECT thr.thr_x100, CAST(coalesce(cnt.n, 0) AS BIGINT) AS pairs
         FROM thr LEFT JOIN cnt USING (thr_x100) ORDER BY thr_x100""",
    "x_rank_kendall" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS w
           FROM documents WHERE len(trim(text)) > 0),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(w)) AS BIGINT) AS a FROM d),
         t AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
             unnest(w) AS term FROM d),
         tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
           FROM t WHERE term IN ('hash', 'join', 'batch') GROUP BY 1, 2, 3),
         dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
           FROM tf GROUP BY 1),
         sc AS (SELECT doc_id, CAST(sum(
             (((1000 * n_docs) // df) * (44 * a * tf))
               // (20 * a * tf + 6 * a + 18 * dl * n_docs)
           ) AS BIGINT) AS score
           FROM tf JOIN dfq USING (term), st GROUP BY 1),
         btop AS (SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT 15),
         br AS (SELECT doc_id, CAST(row_number() OVER
             (ORDER BY score DESC, doc_id) AS BIGINT) AS r_bm FROM btop),
         q0 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         cand AS (SELECT vec_id AS doc_id, embedding AS ce
           FROM embeddings WHERE vec_id <> 0),
         dots AS (SELECT doc_id,
             sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dp,
             sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
             sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc
           FROM q0, cand, range(1, 65) t(i) GROUP BY doc_id),
         s AS (SELECT doc_id, dp/(sqrt(nq)*sqrt(nc)) AS cos FROM dots),
         vtop AS (SELECT * FROM s ORDER BY cos DESC, doc_id LIMIT 15),
         vr AS (SELECT doc_id, CAST(row_number() OVER
             (ORDER BY cos DESC, doc_id) AS BIGINT) AS r_vec FROM vtop),
         bo AS (SELECT br.r_bm, vr.r_vec
           FROM br JOIN vr USING (doc_id)),
         p AS (SELECT a.r_bm AS a1, a.r_vec AS b1, b.r_vec AS b2
           FROM bo a JOIN bo b ON a.r_bm < b.r_bm),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(coalesce(sum(CASE WHEN b1 < b2 THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS concordant
           FROM p)
         SELECT n_pairs, concordant,
           CAST(CASE WHEN n_pairs > 0
             THEN ((2 * concordant - n_pairs) * 1000000) // n_pairs
             ELSE 0 END AS BIGINT) AS tau_x1e6
         FROM m""",
    "x_dcg_eval" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS w
           FROM documents WHERE len(trim(text)) > 0),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(w)) AS BIGINT) AS a FROM d),
         t AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
             unnest(w) AS term FROM d),
         tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
           FROM t WHERE term IN ('hash', 'join', 'batch') GROUP BY 1, 2, 3),
         dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
           FROM tf GROUP BY 1),
         sc AS (SELECT doc_id, count(*) AS nterms, CAST(sum(
             (((1000 * n_docs) // df) * (44 * a * tf))
               // (20 * a * tf + 6 * a + 18 * dl * n_docs)
           ) AS BIGINT) AS score
           FROM tf JOIN dfq USING (term), st GROUP BY 1),
         top AS (SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT 15),
         r AS (SELECT doc_id, score, CAST(row_number() OVER
             (ORDER BY score DESC, doc_id) AS INT) AS rnk FROM top),
         terms AS (SELECT CAST(floor(1e9 *
             (pow(2.0, CAST(doc_id % 4 AS DOUBLE)) - 1) /
             (ln(rnk + 1.0) / ln(2.0))) AS BIGINT) AS g
           FROM r WHERE rnk <= 10),
         ideal AS (SELECT CAST(sum(CAST(floor(1e9 * 7.0 /
             (ln(t.r + 1.0) / ln(2.0))) AS BIGINT)) AS BIGINT)
             AS idcg_x1e9
           FROM range(1, 11) t(r))
         SELECT CAST(sum(g) AS BIGINT) AS dcg_x1e9, ideal.idcg_x1e9,
           CAST((sum(g) * 10000) // ideal.idcg_x1e9 AS BIGINT)
             AS ndcg_x1e4
         FROM terms, ideal GROUP BY ideal.idcg_x1e9""",
    "d_semantic_dedup" ->
      s"""WITH $kmeansCtesSql,
         emb AS (SELECT e.vec_id, e.embedding, a.cid
           FROM embeddings e JOIN as2 a USING (vec_id)),
         dots AS (SELECT a.cid, a.vec_id AS id1, b.vec_id AS id2,
           sum(CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)) AS dp,
           sum(CAST(a.embedding[k] AS DOUBLE) * CAST(a.embedding[k] AS DOUBLE)) AS na,
           sum(CAST(b.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)) AS nb
           FROM emb a JOIN emb b ON a.cid = b.cid AND a.vec_id < b.vec_id,
             range(1, 65) t(k)
           GROUP BY 1, 2, 3),
         s AS (SELECT cid, id1, id2, dp/(sqrt(na)*sqrt(nb)) AS cos FROM dots)
         SELECT cid, id1, id2,
           CAST(floor(cos*10000 + 0.5) AS BIGINT) AS score_x10000
         FROM s WHERE cos >= 0.45 ORDER BY cid, id1, id2""",
    "v_centroid_outliers" ->
      """WITH dims AS (SELECT vec_id, label, k,
             CAST(floor(CAST(embedding[k + 1] AS DOUBLE) * 1000) AS BIGINT) AS qv
           FROM embeddings, range(0, 64) t(k)),
         cent AS (SELECT label, k, CAST(sum(qv) AS BIGINT) AS cs
           FROM dims GROUP BY 1, 2),
         ip AS (SELECT d.vec_id, d.label, CAST(sum(d.qv * c.cs) AS BIGINT) AS ip
           FROM dims d JOIN cent c ON d.label = c.label AND d.k = c.k
           GROUP BY 1, 2),
         r AS (SELECT label, vec_id, ip,
             CAST(row_number() OVER (PARTITION BY label ORDER BY ip ASC, vec_id)
               AS INT) AS rk
           FROM ip)
         SELECT label, rk, vec_id, ip FROM r WHERE rk <= 5
         ORDER BY label, rk""",
    "x_decontaminate" ->
      """WITH base AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS w
             FROM documents),
         b5 AS (SELECT doc_id, w FROM base WHERE len(w) >= 5),
         grams AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 4),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                 || ' ' || w[i+4])) AS g
           FROM b5),
         bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
         train AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 50 <> 0),
         hits AS (SELECT t.doc_id, count(*) AS hits
           FROM train t JOIN bench USING (g) GROUP BY 1)
         SELECT d.doc_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
           CAST(CASE WHEN coalesce(h.hits, 0) > 0 THEN 1 ELSE 0 END AS INT)
             AS contaminated
         FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
         LEFT JOIN hits h USING (doc_id)
         ORDER BY d.doc_id""",
    "x_vocab_hll" ->
      """SELECT lang, count(*) AS n_tokens,
         CAST(count(DISTINCT term) AS BIGINT) AS vocab_exact, 1 AS ok_hll
         FROM (SELECT lang, unnest(string_split_regex(trim(text), ' +')) AS term
               FROM documents WHERE len(trim(text)) > 0)
         GROUP BY lang ORDER BY lang""",
    "x_dup_spans" ->
      """WITH base AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS w
             FROM documents),
         b5 AS (SELECT doc_id, w FROM base WHERE len(w) >= 5),
         grams AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 4),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                 || ' ' || w[i+4])) AS g
           FROM b5),
         dfq AS (SELECT g, count(*) AS df
           FROM (SELECT DISTINCT doc_id, g FROM grams) GROUP BY g)
         SELECT doc_id, count(*) AS positions,
           CAST(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_positions,
           CAST(floor(10000.0::DOUBLE
               * sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) / count(*)
               + 0.5::DOUBLE) AS BIGINT) AS dup_x10000
         FROM grams JOIN dfq USING (g)
         GROUP BY doc_id ORDER BY doc_id""",
    "x_unigram_nll" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS w
             FROM documents WHERE len(trim(text)) > 0),
         t AS (SELECT doc_id, unnest(w) AS term FROM d),
         c AS (SELECT term, count(*) AS cnt FROM t GROUP BY 1),
         n AS (SELECT count(*) AS n_tok FROM t),
         lp AS (SELECT term,
             CAST(floor(ln(CAST(cnt AS DOUBLE) / CAST(n_tok AS DOUBLE))
               * 1000000.0::DOUBLE) AS BIGINT) AS lq
           FROM c CROSS JOIN n),
         s AS (SELECT t.doc_id, count(*) AS tokens,
             CAST(-sum(lq) AS BIGINT) AS nll_x1e6
           FROM t JOIN lp USING (term) GROUP BY 1)
         SELECT doc_id, tokens, nll_x1e6,
           CAST(nll_x1e6 // tokens AS BIGINT) AS mean_nll_x1e6
         FROM s ORDER BY doc_id""",
    "x_tfidf_top" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS w
             FROM documents WHERE len(trim(text)) > 0),
         t AS (SELECT doc_id, unnest(w) AS term FROM d),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM d),
         s AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
             CAST(tf.tf * ((1000000 * n.n_docs) // dfq.df) AS BIGINT) AS score
           FROM tf JOIN dfq USING (term) CROSS JOIN n),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, term) AS rk FROM s)
         SELECT doc_id, term, tf, df, score FROM r WHERE rk = 1
         ORDER BY doc_id""",
    "x_hash_sample" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE substr(md5('s:' || CAST(doc_id AS VARCHAR)), 1, 4)
           < CASE WHEN lang = 'en' THEN '3333' ELSE '0ccd' END
         ORDER BY doc_id""",
    "e2e_corpus_build" ->
      """WITH q AS (SELECT doc_id, text, source,
             len(string_split_regex(trim(text), ' +')) AS nw
           FROM documents WHERE len(trim(text)) > 0),
         qf AS (SELECT doc_id, text, source FROM q WHERE nw BETWEEN 20 AND 200),
         f AS (SELECT doc_id, text, source,
             md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fp
           FROM qf),
         k AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY 1),
         dd AS (SELECT f.doc_id, f.text, f.source
           FROM f JOIN k ON f.fp = k.fp AND f.doc_id = k.doc_id),
         c AS (SELECT source, count(*) AS n FROM dd GROUP BY 1),
         w AS (SELECT source, n,
             CAST(floor(sqrt(n) * 1000000.0::DOUBLE) AS BIGINT) AS w_x1e6
           FROM c),
         t AS (SELECT sum(n) AS total, sum(w_x1e6) AS wsum FROM w),
         r AS (SELECT source,
             CAST(floor(least(1.0::DOUBLE,
               w_x1e6::DOUBLE / wsum::DOUBLE * CAST(total // 2 AS BIGINT) / n)
               * 65536.0::DOUBLE) AS BIGINT) AS rate
           FROM w, t),
         smp AS (SELECT dd.doc_id, dd.text
           FROM dd JOIN r ON dd.source = r.source
           WHERE substr(md5('e2e:' || CAST(dd.doc_id AS VARCHAR)), 1, 4) <
             CASE WHEN r.rate >= 65536 THEN 'g'
                  ELSE printf('%04x', r.rate) END),
         tk AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS tokens
           FROM smp WHERE len(trim(text)) > 0),
         cm AS (SELECT doc_id, tokens,
             coalesce(sum(tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before FROM tk)
         SELECT CAST(cum_before // 512 AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(tokens) AS BIGINT) AS bin_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM cm GROUP BY 1 ORDER BY 1""",
    "d_bloom_incremental" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000001, text FROM documents WHERE doc_id % 50 = 0),
         f AS (SELECT doc_id,
             md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fp
           FROM corpus),
         old_slots AS (SELECT DISTINCT i, substr(md5(i || ':' || fp), 1, 5) AS slot
           FROM (SELECT fp FROM f WHERE doc_id % 2 = 0) x, range(0, 4) t(i)),
         probes AS (SELECT doc_id, fp, i,
             substr(md5(i || ':' || fp), 1, 5) AS slot
           FROM (SELECT doc_id, fp FROM f WHERE doc_id % 2 = 1) y, range(0, 4) t(i)),
         seen AS (SELECT p.doc_id, p.fp,
             CAST(CASE WHEN count(o.slot) = 4 THEN 1 ELSE 0 END AS BIGINT)
               AS maybe_seen
           FROM probes p LEFT JOIN old_slots o
             ON p.i = o.i AND p.slot = o.slot
           GROUP BY p.doc_id, p.fp),
         dups AS (SELECT DISTINCT fp FROM f WHERE doc_id % 2 = 0)
         SELECT s.doc_id, s.maybe_seen,
           CAST(CASE WHEN d.fp IS NULL THEN 0 ELSE 1 END AS BIGINT) AS exact_dup,
           CAST(CASE WHEN s.maybe_seen >=
             (CASE WHEN d.fp IS NULL THEN 0 ELSE 1 END) THEN 1 ELSE 0 END
             AS BIGINT) AS fn_ok
         FROM seen s LEFT JOIN dups d ON s.fp = d.fp
         ORDER BY s.doc_id""",
    "x_source_mix" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
         w AS (SELECT source, n,
             CAST(floor(sqrt(n) * 1000000.0::DOUBLE) AS BIGINT) AS w_x1e6
           FROM c),
         t AS (SELECT sum(n) AS total, sum(w_x1e6) AS wsum FROM w),
         r AS (SELECT source, n, w_x1e6,
             CAST(floor(least(1.0::DOUBLE,
               w_x1e6::DOUBLE / wsum::DOUBLE * CAST(total // 4 AS BIGINT) / n)
               * 65536.0::DOUBLE) AS BIGINT) AS rate_x65536
           FROM w, t),
         s AS (SELECT d.source, count(*) AS sampled
           FROM documents d JOIN r ON d.source = r.source
           WHERE substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 4) <
             CASE WHEN r.rate_x65536 >= 65536 THEN 'g'
                  ELSE printf('%04x', r.rate_x65536) END
           GROUP BY 1)
         SELECT r.source, CAST(r.n AS BIGINT) AS n, r.w_x1e6, r.rate_x65536,
           CAST(coalesce(s.sampled, 0) AS BIGINT) AS sampled
         FROM r LEFT JOIN s ON r.source = s.source ORDER BY r.source""",
    "x_shuffle_buckets" ->
      """WITH k AS (SELECT doc_id,
             md5('shuf:' || CAST(doc_id AS VARCHAR)) AS k FROM documents),
         b AS (SELECT substr(k, 1, 1) AS bucket, count(*) AS cnt,
             min(substr(k, 1, 8)) AS min_k8, max(substr(k, 1, 8)) AS max_k8,
             sum(doc_id) AS sum_doc
           FROM k GROUP BY 1),
         t AS (SELECT sum(cnt) AS total FROM b)
         SELECT bucket, CAST(cnt AS BIGINT) AS cnt, min_k8, max_k8,
           CAST(sum_doc AS BIGINT) AS sum_doc,
           CAST(CASE WHEN cnt * 16 <= total * 2 THEN 1 ELSE 0 END AS BIGINT)
             AS balance_ok
         FROM b, t ORDER BY bucket""",
    "x_chunk_windows" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS w
             FROM documents WHERE len(trim(text)) > 0),
         k AS (SELECT doc_id, w,
             unnest(generate_series(0,
               greatest(CAST(ceil((len(w) - 32) / 24.0) AS BIGINT), 0)))
               AS chunk_idx
           FROM d),
         c AS (SELECT doc_id, chunk_idx,
             CAST(chunk_idx * 24 + 1 AS BIGINT) AS start_word,
             list_slice(w, chunk_idx * 24 + 1,
               least(chunk_idx * 24 + 32, len(w))) AS cw
           FROM k)
         SELECT doc_id, chunk_idx, start_word,
           CAST(len(cw) AS BIGINT) AS chunk_words,
           md5(array_to_string(cw, ' ')) AS chunk_md5
         FROM c ORDER BY doc_id, chunk_idx""",
    "x_seq_pack" ->
      """WITH t AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS tokens
           FROM documents WHERE len(trim(text)) > 0),
         c AS (SELECT doc_id, tokens,
             coalesce(sum(tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before FROM t)
         SELECT CAST(cum_before // 512 AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(tokens) AS BIGINT) AS bin_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM c GROUP BY 1 ORDER BY 1""",
    "x_repetition" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS w
             FROM documents WHERE len(trim(text)) > 0),
         u AS (SELECT doc_id, CAST(len(w) AS INT) AS tokens, unnest(w) AS word FROM d),
         uc AS (SELECT doc_id, tokens, word, count(*) AS n FROM u GROUP BY 1, 2, 3),
         um AS (SELECT doc_id, tokens, max(n) AS top_word_n FROM uc GROUP BY 1, 2),
         b AS (SELECT doc_id, unnest(list_transform(list_zip(w[:-2], w[2:]),
                 s -> s[1] || ' ' || s[2])) AS bg FROM d),
         bc AS (SELECT doc_id, bg, count(*) AS n FROM b GROUP BY 1, 2),
         bm AS (SELECT doc_id, max(n) AS top_bigram_n, sum(n) AS bigrams FROM bc GROUP BY 1)
         SELECT um.doc_id AS doc_id, um.tokens AS tokens,
           um.top_word_n AS top_word_n,
           CAST(coalesce(bm.bigrams, 0) AS BIGINT) AS bigrams,
           CAST(coalesce(bm.top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
           CAST(floor(10000.0::DOUBLE * um.top_word_n / um.tokens + 0.5::DOUBLE)
             AS BIGINT) AS top_word_x10000,
           CAST(CASE WHEN coalesce(bm.bigrams, 0) = 0 THEN 0
             ELSE floor(10000.0::DOUBLE * bm.top_bigram_n / bm.bigrams + 0.5::DOUBLE)
             END AS BIGINT) AS top_bigram_x10000
         FROM um LEFT JOIN bm ON um.doc_id = bm.doc_id
         ORDER BY doc_id""",
    "x_quality_decile" ->
      """SELECT doc_id, lang,
         CAST(len(string_split_regex(trim(text), ' +')) AS INT) AS tokens,
         CAST(ntile(10) OVER (PARTITION BY lang
           ORDER BY len(string_split_regex(trim(text), ' +')), doc_id)
           AS INT) AS decile
         FROM documents WHERE len(trim(text)) > 0
         ORDER BY doc_id""",
    "x_len_quantiles" ->
      """SELECT lang, source, count(*) AS n,
         CAST(floor(quantile_cont(tokens, 0.25)*1000 + 0.5) AS BIGINT) AS q25_x1000,
         CAST(floor(quantile_cont(tokens, 0.5)*1000 + 0.5) AS BIGINT) AS q50_x1000,
         CAST(floor(quantile_cont(tokens, 0.75)*1000 + 0.5) AS BIGINT) AS q75_x1000,
         CAST(floor(quantile_cont(tokens, 0.9)*1000 + 0.5) AS BIGINT) AS q90_x1000
         FROM (SELECT lang, source,
             len(string_split_regex(trim(text), ' +'))::DOUBLE AS tokens
           FROM documents WHERE len(trim(text)) > 0)
         GROUP BY lang, source ORDER BY lang, source""",
    "x_len_quantiles_approx" ->
      """SELECT lang, source, count(*) AS n,
         1 AS ok_q25, 1 AS ok_q50, 1 AS ok_q75, 1 AS ok_q90
         FROM documents WHERE len(trim(text)) > 0
         GROUP BY lang, source ORDER BY lang, source""",
    "x_quality_score" ->
      """WITH base AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), ' +')) AS INT) AS tokens,
             CAST(length(replace(text, ' ', '')) AS INT) AS chars_ns,
             CAST(length(text) AS INT) AS chars,
             CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS INT)
               AS symbols,
             CAST(len(list_filter(string_split_regex(trim(text), ' +'),
               x -> x IN ('the', 'a', 'of', 'and'))) AS INT) AS stop_hits
           FROM documents WHERE length(trim(text)) > 0),
         f AS (SELECT doc_id, tokens, stop_hits,
             CASE WHEN tokens BETWEEN 5 AND 200 THEN 1 ELSE 0 END AS ok_tokens,
             CASE WHEN chars_ns * 100 >= tokens * 300
                   AND chars_ns * 100 <= tokens * 1000 THEN 1 ELSE 0 END AS ok_mwl,
             CASE WHEN stop_hits > 0 THEN 1 ELSE 0 END AS has_stop,
             CASE WHEN symbols * 10 <= chars THEN 1 ELSE 0 END AS ok_symbol
           FROM base)
         SELECT doc_id, tokens, stop_hits, ok_tokens, ok_mwl, has_stop, ok_symbol,
           ok_tokens + ok_mwl + has_stop + ok_symbol AS quality_score
         FROM f ORDER BY doc_id""",
    "x_audio_wav" ->
      """WITH d AS (SELECT doc_id, 64 + doc_id % 64 AS n,
             8000 + (doc_id % 4) * 4000 AS rate
           FROM documents),
         s AS (SELECT d.doc_id, d.n, d.rate,
             sum((d.doc_id * 131 + i * 7) % 251) AS ssum
           FROM d, range(0, 128) t(i) WHERE i < d.n GROUP BY 1, 2, 3)
         SELECT doc_id, CAST(rate AS INT) AS sample_rate,
           CAST(n AS INT) AS n_samples, 1 AS channels, 16 AS bits,
           CAST(ssum AS BIGINT) AS sample_sum
         FROM s ORDER BY doc_id""",
    "x_image_png" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h
           FROM documents),
         s AS (SELECT d.doc_id, d.w, d.h,
             sum((d.doc_id * 131 + i * 7) % 251) AS lsum
           FROM d, range(0, 165) t(i) WHERE i < d.w * d.h GROUP BY 1, 2, 3)
         SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           1 AS frames, CAST(lsum AS BIGINT) AS luma_sum
         FROM s ORDER BY doc_id""",
    "x_video_avi" ->
      """SELECT doc_id, 16 AS width, 8 AS height,
           CAST(2 + doc_id % 3 AS INT) AS n_frames,
           CAST(10 + doc_id % 5 AS INT) AS fps,
           CAST((2 + doc_id % 3) * 128 AS BIGINT) AS plane_len,
           1 AS frames_ok
         FROM documents ORDER BY doc_id""",
    "v_recall_eval" ->
      s"""WITH $lshBucketsSql,
         cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS vid
           FROM bits q JOIN bits c ON q.tbl = c.tbl AND q.bkt = c.bkt
           WHERE q.vec_id IN (0,1,2) AND c.vec_id NOT IN (0,1,2)),
         ldots AS (SELECT cand.qid, cand.vid AS vec_id,
             sum(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS dp,
             sum(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)) AS nq,
             sum(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS nc
           FROM cand JOIN embeddings a ON a.vec_id = cand.qid
             JOIN embeddings b ON b.vec_id = cand.vid, range(1, 65) t(i)
           GROUP BY 1, 2),
         lsh5 AS (SELECT qid, vec_id, rnk FROM (SELECT qid, vec_id,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY dp/(sqrt(nq)*sqrt(nc)) DESC, vec_id) AS INT) AS rnk
           FROM ldots) WHERE rnk <= 5),
         eq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
           WHERE vec_id IN (0,1,2)),
         ec AS (SELECT vec_id, embedding AS ce FROM embeddings
           WHERE vec_id NOT IN (0,1,2)),
         edots AS (SELECT qid, vec_id,
             sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dp,
             sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
             sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc
           FROM eq, ec, range(1, 65) t(i) GROUP BY qid, vec_id),
         ex5 AS (SELECT qid, vec_id, rnk FROM (SELECT qid, vec_id,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY dp/(sqrt(nq)*sqrt(nc)) DESC, vec_id) AS INT) AS rnk
           FROM edots) WHERE rnk <= 5),
         h AS (SELECT l.qid, count(*) AS hits,
             min(CASE WHEN e.rnk = 1 THEN l.rnk END) AS top1_at
           FROM lsh5 l JOIN ex5 e
             ON l.qid = e.qid AND l.vec_id = e.vec_id
           GROUP BY 1)
         SELECT q.qid, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
           CAST(coalesce(h.hits, 0) * 20 AS BIGINT) AS recall_x100,
           CAST(CASE WHEN h.top1_at IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS top1_hit
         FROM (SELECT DISTINCT qid FROM ex5) q
         LEFT JOIN h USING (qid) ORDER BY q.qid""",
    "x_minhash_est" ->
      s"""WITH $minhashCtesSql,
         pairs AS ($minhashPairSelectSql),
         mm AS (SELECT p.id1, p.id2,
             sum(CASE WHEN x.m = y.m THEN 1 ELSE 0 END) AS est_matches
           FROM pairs p JOIN mh x ON x.doc_id = p.id1
             JOIN mh y ON y.doc_id = p.id2 AND y.j = x.j
           GROUP BY 1, 2),
         sd AS (SELECT DISTINCT doc_id, s FROM sh),
         sc AS (SELECT doc_id, count(*) AS c FROM sd GROUP BY 1),
         iv AS (SELECT p.id1, p.id2, count(*) AS inter
           FROM pairs p JOIN sd a ON a.doc_id = p.id1
             JOIN sd b ON b.doc_id = p.id2 AND b.s = a.s
           GROUP BY 1, 2)
         SELECT mm.id1, mm.id2,
           CAST(mm.est_matches AS BIGINT) AS est_matches,
           CAST(mm.est_matches * 1250 AS BIGINT) AS est_x10000,
           CAST(floor(10000.0::DOUBLE * coalesce(iv.inter, 0)
             / (ca.c + cb.c - coalesce(iv.inter, 0)) + 0.5::DOUBLE) AS BIGINT)
             AS jacc_x10000,
           CAST(CASE WHEN mm.est_matches >= 2 THEN 1 ELSE 0 END AS BIGINT)
             AS lsh_ok
         FROM mm JOIN sc ca ON ca.doc_id = mm.id1
           JOIN sc cb ON cb.doc_id = mm.id2
           LEFT JOIN iv ON iv.id1 = mm.id1 AND iv.id2 = mm.id2
         ORDER BY mm.id1, mm.id2""",
    "x_ccnet_bucket" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS w
             FROM documents WHERE len(trim(text)) > 0),
         t AS (SELECT doc_id, unnest(w) AS term FROM d),
         c AS (SELECT term, count(*) AS cnt FROM t GROUP BY 1),
         n AS (SELECT count(*) AS n_tok FROM t),
         lp AS (SELECT term,
             CAST(floor(ln(CAST(cnt AS DOUBLE) / CAST(n_tok AS DOUBLE))
               * 1000000.0::DOUBLE) AS BIGINT) AS lq
           FROM c CROSS JOIN n),
         s AS (SELECT t.doc_id, count(*) AS tokens,
             CAST(-sum(lq) AS BIGINT) AS nll_x1e6
           FROM t JOIN lp USING (term) GROUP BY 1),
         m AS (SELECT s.doc_id, CAST(nll_x1e6 // tokens AS BIGINT)
             AS mean_nll_x1e6, doc.lang
           FROM s JOIN documents doc ON doc.doc_id = s.doc_id),
         b AS (SELECT doc_id, lang, mean_nll_x1e6,
             CAST(ntile(3) OVER (PARTITION BY lang
               ORDER BY mean_nll_x1e6, doc_id) AS INT) AS tercile
           FROM m)
         SELECT doc_id, lang, mean_nll_x1e6,
           CASE WHEN tercile = 1 THEN 'head' WHEN tercile = 2 THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM b ORDER BY doc_id""",
    "v_ann_lsh" ->
      s"""WITH $lshBucketsSql,
         cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS vid
           FROM bits q JOIN bits c ON q.tbl = c.tbl AND q.bkt = c.bkt
           WHERE q.vec_id IN (0,1,2) AND c.vec_id NOT IN (0,1,2)),
         dots AS (SELECT cand.qid, cand.vid AS vec_id,
             sum(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS dp,
             sum(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)) AS nq,
             sum(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS nc
           FROM cand JOIN embeddings a ON a.vec_id = cand.qid
             JOIN embeddings b ON b.vec_id = cand.vid, range(1, 65) t(i)
           GROUP BY 1, 2),
         s AS (SELECT qid, vec_id, dp/(sqrt(nq)*sqrt(nc)) AS cos FROM dots)
         SELECT qid, vec_id,
           CAST(floor(cos*10000 + 0.5) AS BIGINT) AS score_x10000, rnk
         FROM (SELECT qid, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT)
               AS rnk FROM s)
         WHERE rnk <= 5 ORDER BY qid, rnk""",
    "v_recall_eval_mp" ->
      s"""WITH $lshBucketsSql,
         probes AS (SELECT b.vec_id AS qid, b.tbl, xor(b.bkt, f.f) AS bkt
           FROM bits b, (SELECT unnest([0,1,2,4,8,16,32,64,128]) AS f) f
           WHERE b.vec_id IN (0,1,2)),
         cand AS (SELECT DISTINCT p.qid, c.vec_id AS vid
           FROM bits c JOIN probes p ON c.tbl = p.tbl AND c.bkt = p.bkt
           WHERE c.vec_id NOT IN (0,1,2)),
         mdots AS (SELECT cand.qid, cand.vid AS vec_id,
             sum(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS dp,
             sum(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)) AS nq,
             sum(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS nc
           FROM cand JOIN embeddings a ON a.vec_id = cand.qid
             JOIN embeddings b ON b.vec_id = cand.vid, range(1, 65) t(i)
           GROUP BY 1, 2),
         mp5 AS (SELECT qid, vec_id, rnk FROM (SELECT qid, vec_id,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY dp/(sqrt(nq)*sqrt(nc)) DESC, vec_id) AS INT) AS rnk
           FROM mdots) WHERE rnk <= 5),
         eq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
           WHERE vec_id IN (0,1,2)),
         ec AS (SELECT vec_id, embedding AS ce FROM embeddings
           WHERE vec_id NOT IN (0,1,2)),
         edots AS (SELECT qid, vec_id,
             sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dp,
             sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
             sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc
           FROM eq, ec, range(1, 65) t(i) GROUP BY qid, vec_id),
         ex5 AS (SELECT qid, vec_id, rnk FROM (SELECT qid, vec_id,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY dp/(sqrt(nq)*sqrt(nc)) DESC, vec_id) AS INT) AS rnk
           FROM edots) WHERE rnk <= 5),
         h AS (SELECT m.qid, count(*) AS hits,
             min(CASE WHEN e.rnk = 1 THEN m.rnk END) AS top1_at
           FROM mp5 m JOIN ex5 e
             ON m.qid = e.qid AND m.vec_id = e.vec_id
           GROUP BY 1)
         SELECT q.qid, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
           CAST(coalesce(h.hits, 0) * 20 AS BIGINT) AS recall_x100,
           CAST(CASE WHEN h.top1_at IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS top1_hit
         FROM (SELECT DISTINCT qid FROM ex5) q
         LEFT JOIN h USING (qid) ORDER BY q.qid""",
    "v_ann_lsh_multiprobe" ->
      s"""WITH $lshBucketsSql,
         probes AS (SELECT b.vec_id AS qid, b.tbl, xor(b.bkt, f.f) AS bkt
           FROM bits b, (SELECT unnest([0,1,2,4,8,16,32,64,128]) AS f) f
           WHERE b.vec_id IN (0,1,2)),
         cand AS (SELECT DISTINCT p.qid, c.vec_id AS vid
           FROM bits c JOIN probes p ON c.tbl = p.tbl AND c.bkt = p.bkt
           WHERE c.vec_id NOT IN (0,1,2)),
         dots AS (SELECT cand.qid, cand.vid AS vec_id,
             sum(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS dp,
             sum(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)) AS nq,
             sum(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)) AS nc
           FROM cand JOIN embeddings a ON a.vec_id = cand.qid
             JOIN embeddings b ON b.vec_id = cand.vid, range(1, 65) t(i)
           GROUP BY 1, 2),
         s AS (SELECT qid, vec_id, dp/(sqrt(nq)*sqrt(nc)) AS cos FROM dots)
         SELECT qid, vec_id,
           CAST(floor(cos*10000 + 0.5) AS BIGINT) AS score_x10000, rnk
         FROM (SELECT qid, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT)
               AS rnk FROM s)
         WHERE rnk <= 5 ORDER BY qid, rnk""",
    "v_ann_int8" ->
      """WITH dims AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
             FROM embeddings, range(1, 65) t(i)),
         mx AS (SELECT vec_id, max(abs(v)) AS m FROM dims GROUP BY 1),
         q8 AS (SELECT d.vec_id, i,
             CAST(floor(v * 127.0 / m + 0.5) AS BIGINT) AS qv
           FROM dims d JOIN mx USING (vec_id)),
         ips AS (SELECT a.vec_id AS qid, b.vec_id AS vid,
             CAST(sum(a.qv * b.qv) AS BIGINT) AS ip
           FROM q8 a JOIN q8 b USING (i)
           WHERE a.vec_id IN (0,1,2) AND b.vec_id NOT IN (0,1,2)
           GROUP BY 1, 2),
         rk AS (SELECT qid, vid, ip,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY CAST(ip AS DOUBLE) * m DESC, vid) AS INT) AS rnk
           FROM ips JOIN mx ON mx.vec_id = ips.vid),
         top AS (SELECT * FROM rk WHERE rnk <= 10),
         dots AS (SELECT top.qid, top.vid, top.ip, top.rnk,
             sum(CAST(qa.embedding[i] AS DOUBLE) * CAST(qb.embedding[i] AS DOUBLE)) AS dp,
             sum(CAST(qa.embedding[i] AS DOUBLE) * CAST(qa.embedding[i] AS DOUBLE)) AS nq,
             sum(CAST(qb.embedding[i] AS DOUBLE) * CAST(qb.embedding[i] AS DOUBLE)) AS nc
           FROM top JOIN embeddings qa ON qa.vec_id = top.qid
             JOIN embeddings qb ON qb.vec_id = top.vid, range(1, 65) t(i)
           GROUP BY 1, 2, 3, 4)
         SELECT qid, vid AS vec_id, ip,
           CAST(floor(dp / (sqrt(nq) * sqrt(nc)) * 10000 + 0.5) AS BIGINT)
             AS score_x10000,
           rnk
         FROM dots ORDER BY qid, rnk""",
    "d_paragraph_dedup" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS w
             FROM documents WHERE len(trim(text)) > 0),
         n AS (SELECT doc_id, w,
             CAST(ceil(len(w) / 10.0) AS BIGINT) AS nseg FROM d),
         segs AS (SELECT doc_id,
             CAST(unnest(generate_series(0, nseg - 1)) AS INT) AS seg_idx,
             unnest(list_transform(generate_series(0, nseg - 1),
               j -> array_to_string(w[(j*10+1):(j*10+10)], ' '))) AS seg
           FROM n),
         k AS (SELECT doc_id, seg_idx, seg,
             row_number() OVER (PARTITION BY md5(seg)
               ORDER BY doc_id, seg_idx) AS r
           FROM segs)
         SELECT doc_id, count(*) AS n_segs,
           CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_segs,
           md5(coalesce(
             string_agg(CASE WHEN r = 1 THEN seg END, ' ' ORDER BY seg_idx),
             '')) AS kept_md5
         FROM k GROUP BY doc_id ORDER BY doc_id""",
    "x_quality_classifier" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS w
             FROM documents WHERE len(trim(text)) > 0),
         feats AS (SELECT doc_id, unnest(w) AS f FROM d
           UNION ALL
           SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
             i -> w[i] || '_' || w[i+1])) AS f
           FROM d WHERE len(w) >= 2),
         wt AS (SELECT doc_id,
             ('0x' || substr(md5('qw:' || f), 1, 6))::BIGINT % 2001 - 1000 AS wt
           FROM feats),
         s AS (SELECT doc_id, count(*) AS feats,
             CAST(sum(wt) AS BIGINT) AS score_sum
           FROM wt GROUP BY 1)
         SELECT doc_id, feats, score_sum,
           CAST(floor(CAST(score_sum AS DOUBLE) / feats + 0.5) AS BIGINT)
             AS mean_x1000,
           CAST(CASE WHEN score_sum >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM s ORDER BY doc_id""",
    "x_bpe_learn" ->
      """WITH wc AS (SELECT term AS word, count(*) AS cnt
             FROM (SELECT unnest(string_split_regex(trim(text), ' +')) AS term
                   FROM documents WHERE len(trim(text)) > 0) GROUP BY 1),
         s0 AS (SELECT word, cnt,
             list_transform(generate_series(1, len(word)),
               i -> substr(word, i, 1)) AS syms
           FROM wc),
         p1e AS (SELECT cnt,
             unnest(list_transform(generate_series(1, len(syms) - 1),
               i -> {'pa': syms[i], 'pb': syms[i+1]})) AS p
           FROM s0 WHERE len(syms) >= 2),
         p1 AS (SELECT p.pa AS pa, p.pb AS pb, CAST(sum(cnt) AS BIGINT) AS wcnt
           FROM p1e GROUP BY 1, 2),
         b1 AS (SELECT pa, pb, wcnt FROM p1 ORDER BY wcnt DESC, pa, pb LIMIT 1),
         s1 AS (SELECT word, cnt, string_split(
             list_reduce(syms, (acc, s) -> CASE
               WHEN s = b1.pb AND (acc = b1.pa OR ends_with(acc, ' ' || b1.pa))
               THEN left(acc, len(acc) - len(b1.pa)) || b1.pa || b1.pb
               ELSE acc || ' ' || s END), ' ') AS syms
           FROM s0, b1),
         p2e AS (SELECT cnt,
             unnest(list_transform(generate_series(1, len(syms) - 1),
               i -> {'pa': syms[i], 'pb': syms[i+1]})) AS p
           FROM s1 WHERE len(syms) >= 2),
         p2 AS (SELECT p.pa AS pa, p.pb AS pb, CAST(sum(cnt) AS BIGINT) AS wcnt
           FROM p2e GROUP BY 1, 2),
         b2 AS (SELECT pa, pb, wcnt FROM p2 ORDER BY wcnt DESC, pa, pb LIMIT 1)
         SELECT CAST(1 AS INT) AS r, pa, pb, pa || pb AS merged, wcnt FROM b1
         UNION ALL
         SELECT CAST(2 AS INT) AS r, pa, pb, pa || pb AS merged, wcnt FROM b2
         ORDER BY r""",
    "x_bpe_apply" ->
      """WITH wc AS (SELECT term AS word, count(*) AS cnt
             FROM (SELECT unnest(string_split_regex(trim(text), ' +')) AS term
                   FROM documents WHERE len(trim(text)) > 0) GROUP BY 1),
         s0 AS (SELECT word, cnt,
             list_transform(generate_series(1, len(word)),
               i -> substr(word, i, 1)) AS syms
           FROM wc),
         p1e AS (SELECT cnt,
             unnest(list_transform(generate_series(1, len(syms) - 1),
               i -> {'pa': syms[i], 'pb': syms[i+1]})) AS p
           FROM s0 WHERE len(syms) >= 2),
         p1 AS (SELECT p.pa AS pa, p.pb AS pb, CAST(sum(cnt) AS BIGINT) AS wcnt
           FROM p1e GROUP BY 1, 2),
         b1 AS (SELECT pa, pb, wcnt FROM p1 ORDER BY wcnt DESC, pa, pb LIMIT 1),
         s1 AS (SELECT word, cnt, string_split(
             list_reduce(syms, (acc, s) -> CASE
               WHEN s = b1.pb AND (acc = b1.pa OR ends_with(acc, ' ' || b1.pa))
               THEN left(acc, len(acc) - len(b1.pa)) || b1.pa || b1.pb
               ELSE acc || ' ' || s END), ' ') AS syms
           FROM s0, b1),
         p2e AS (SELECT cnt,
             unnest(list_transform(generate_series(1, len(syms) - 1),
               i -> {'pa': syms[i], 'pb': syms[i+1]})) AS p
           FROM s1 WHERE len(syms) >= 2),
         p2 AS (SELECT p.pa AS pa, p.pb AS pb, CAST(sum(cnt) AS BIGINT) AS wcnt
           FROM p2e GROUP BY 1, 2),
         b2 AS (SELECT pa, pb, wcnt FROM p2 ORDER BY wcnt DESC, pa, pb LIMIT 1),
         s2 AS (SELECT word, cnt, string_split(
             list_reduce(syms, (acc, s) -> CASE
               WHEN s = b2.pb AND (acc = b2.pa OR ends_with(acc, ' ' || b2.pa))
               THEN left(acc, len(acc) - len(b2.pa)) || b2.pa || b2.pb
               ELSE acc || ' ' || s END), ' ') AS syms
           FROM s1, b2),
         dw AS (SELECT doc_id,
             unnest(string_split_regex(trim(text), ' +')) AS word
           FROM documents WHERE len(trim(text)) > 0),
         j AS (SELECT doc_id, len(s2.syms) AS ntok, len(s2.word) AS nch
           FROM dw JOIN s2 USING (word)),
         a AS (SELECT doc_id, count(*) AS n_words,
             CAST(sum(ntok) AS BIGINT) AS n_tokens,
             CAST(sum(nch) AS BIGINT) AS n_chars
           FROM j GROUP BY 1)
         SELECT doc_id, n_words, n_tokens, n_chars,
           CAST((n_chars * 1000) // n_tokens AS BIGINT) AS cpt_x1000
         FROM a ORDER BY doc_id""",
    "x_dsir" ->
      """WITH d AS (SELECT doc_id, lang,
             string_split_regex(trim(text), ' +') AS w
           FROM documents WHERE len(trim(text)) > 0),
         f AS (SELECT doc_id, lang, unnest(w) AS f FROM d
           UNION ALL
           SELECT doc_id, lang,
             unnest(list_transform(generate_series(1, len(w) - 1),
               i -> w[i] || '_' || w[i+1])) AS f
           FROM d WHERE len(w) >= 2),
         fb AS (SELECT doc_id, lang,
             ('0x' || substr(md5('dsir:' || f), 1, 6))::BIGINT % 4096 AS b
           FROM f),
         raw AS (SELECT b, count(*) AS cr FROM fb GROUP BY 1),
         tgt AS (SELECT b, count(*) AS ct FROM fb WHERE lang = 'en' GROUP BY 1),
         wts AS (SELECT raw.b AS b, cr, coalesce(ct, 0) AS ct
           FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
         tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
             CAST(sum(ct) AS BIGINT) AS nt FROM wts),
         sb AS (SELECT b, ct * nr - cr * nt AS sb FROM wts, tot),
         sc AS (SELECT doc_id, count(*) AS feats,
             CAST(sum(sb) AS BIGINT) AS score
           FROM fb JOIN sb ON fb.b = sb.b GROUP BY 1),
         top AS (SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT 25)
         SELECT doc_id, feats, score FROM top ORDER BY doc_id""",
    "x_bm25_search" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS w
           FROM documents WHERE len(trim(text)) > 0),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(w)) AS BIGINT) AS a FROM d),
         t AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
             unnest(w) AS term FROM d),
         tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
           FROM t WHERE term IN ('hash', 'join', 'batch') GROUP BY 1, 2, 3),
         dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
           FROM tf GROUP BY 1),
         sc AS (SELECT doc_id, count(*) AS nterms, CAST(sum(
             (((1000 * n_docs) // df) * (44 * a * tf))
               // (20 * a * tf + 6 * a + 18 * dl * n_docs)
           ) AS BIGINT) AS score
           FROM tf JOIN dfq USING (term), st GROUP BY 1),
         top AS (SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT 15)
         SELECT doc_id, nterms, score FROM top ORDER BY doc_id""",
    "x_lang_quota" ->
      """WITH r AS (SELECT lang, doc_id,
             ('0x' || substr(md5('quota:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
               AS hr
           FROM documents),
         rk AS (SELECT lang, doc_id,
             CAST(row_number() OVER (PARTITION BY lang ORDER BY hr DESC, doc_id)
               AS INT) AS rnk
           FROM r)
         SELECT lang, doc_id, rnk FROM rk WHERE rnk <= 20
         ORDER BY lang, rnk""")
}
