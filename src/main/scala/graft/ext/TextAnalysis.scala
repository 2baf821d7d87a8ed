package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Text-analysis operators for training-data pipelines (BASELINE.json
  * extension surface; the reference has no text functions at all —
  * SURVEY.md §2.8).
  *
  * Everything is built-in expressions (codegen'd, no UDFs): token counts
  * are regex extractions, quality scores are arithmetic over counts,
  * language ID is an exploded trigram join against a broadcast profile
  * table, fingerprints are a rolling polynomial hash folded with
  * `aggregate`. Each operator is a narrow map-side projection except
  * language ID (one broadcast join + one shuffle on doc id).
  */
object TextAnalysis {

  /** BPE-ish pretokenizer: letter runs, digit runs, or single
    * non-space symbols — the shape (not the vocab) of byte-pair
    * pretokenization, expressible identically in Java regex and RE2.
    */
  val BpeishPattern = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\f\\r]"

  /** Per-document token statistics: whitespace tokens, BPE-ish tokens,
    * characters. One map-side projection, no shuffle.
    */
  def tokenCounts(df: DataFrame, id: String, text: String): DataFrame =
    df.select(
      col(id),
      size(filter(split(col(text), "[ \\t\\n\\f\\r]+"), t => length(t) > 0)).as("n_ws_tokens"),
      size(regexp_extract_all(lower(col(text)), lit(BpeishPattern), lit(0)))
        .as("n_bpe_tokens"),
      length(col(text)).as("n_chars"))

  /** English-ish stopwords used by the quality score (presence signals
    * natural language rather than keyword stuffing). */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "to", "in", "is", "it", "for",
    "on", "with", "as", "at", "by", "or", "be", "this", "that", "are")

  /** Heuristic document quality score in [0,1] plus its component
    * measures. Components (all arithmetic over counts — reproducible in
    * ANSI SQL for the oracle):
    *  - length_score: min(tokens, 100)/100 — reward non-trivial length
    *  - punct_ratio: non-alphanumeric-non-space chars / chars
    *  - stopword_ratio: stopword tokens / tokens
    *  - avg_token_len: chars-in-tokens / tokens
    * score = 0.4·length + 0.3·(1−min(punct·5,1)) + 0.3·min(stop·4,1)
    */
  def qualityScore(df: DataFrame, id: String, text: String,
                   keepCols: Seq[String] = Nil): DataFrame = {
    // one native pass (TokenStats) instead of three interpreted HOF
    // passes that each re-split the text; byte-identical counts, so
    // every oracle replay is unchanged. Repeated getFields CSE into
    // one evaluation inside the projection's codegen. keepCols ride
    // the same projection (the qualityRules convention, round 14): a
    // caller gating on the score must not have to self-join it back
    // onto the corpus lineage.
    val st = graft.functions.Strings.tokenStats(lower(col(text)), Stopwords)
    val nToks = st.getField("n_tokens").cast(DoubleType)
    val nChars = length(col(text)).cast(DoubleType)
    // native single-pass code-point count — the regexp_extract_all
    // form ran the regex engine per row and was the largest CPU item
    // of the curation stages (65% of stack samples at sf1; round 15)
    val punct = graft.functions.Strings.punctCount(col(text))
      .cast(DoubleType)
    val nStop = st.getField("n_stop").cast(DoubleType)
    val tokChars = st.getField("tok_chars").cast(DoubleType)
    df.select(
        (col(id) +: keepCols.map(col)) :+
        nToks.as("n_tokens") :+
        when(nChars > 0, punct / nChars).otherwise(0.0).as("punct_ratio") :+
        when(nToks > 0, nStop / nToks).otherwise(0.0).as("stopword_ratio") :+
        when(nToks > 0, tokChars / nToks).otherwise(0.0).as("avg_token_len"): _*)
      .withColumn("quality_score",
        lit(0.4) * least(col("n_tokens"), lit(100.0)) / 100.0 +
          lit(0.3) * (lit(1.0) - least(col("punct_ratio") * 5.0, lit(1.0))) +
          lit(0.3) * least(col("stopword_ratio") * 4.0, lit(1.0)))
  }

  // --------------------------------------------------------------------
  // Text cleaning (URL / email scrubbing — pre-training normalization)
  // --------------------------------------------------------------------

  /** URL and email patterns, expressible identically in Java regex and
    * RE2 (no backreferences, no lookaround) so the DuckDB oracle runs
    * the same patterns verbatim. */
  val UrlPattern = "https?://\\S+"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Pre-training text normalization: strip URLs, strip emails (counted
    * after URL removal so an address inside a URL isn't double-counted),
    * collapse runs of whitespace, trim. Pure map-side projection — at
    * 100 TB this is a codegen'd pass over the scan, no shuffle.
    */
  def cleanText(df: DataFrame, id: String, text: String): DataFrame = {
    val noUrl = regexp_replace(col(text), UrlPattern, " ")
    val noMail = regexp_replace(noUrl, EmailPattern, " ")
    val clean = trim(regexp_replace(noMail, "[ \\t\\n\\f\\r]+", " "))
    df.select(
      col(id),
      size(regexp_extract_all(col(text), lit(UrlPattern), lit(0))).as("n_urls"),
      size(regexp_extract_all(noUrl, lit(EmailPattern), lit(0))).as("n_emails"),
      clean.as("clean_text"),
      length(clean).as("clean_chars"))
  }

  /** Word n-gram statistics: per-n-gram total occurrences and document
    * frequency, thresholded. Generalizes [[vocabularyDF]] (n = 1) to the
    * collocation statistics used for tokenizer merges and boilerplate
    * detection. One explode + one partial-aggregated shuffle; `minCount`
    * prunes the long tail before any result materializes.
    */
  def ngramStats(df: DataFrame, id: String, text: String, n: Int,
                 minCount: Long = 1L): DataFrame = {
    require(n >= 1, "n must be >= 1")
    // native single-pass n-gram expression (WordNgrams): the HOF chain
    // re-evaluates the split per gram, interpreted — the sf10 profile
    val grams = graft.functions.Strings.wordNgrams(lower(col(text)), n,
      wholeTextFallback = false)
    // Two-level aggregation instead of count+countDistinct in one agg:
    // the combined form Expands every row ×2 before the shuffle; here the
    // per-(ngram, doc) rollup partial-combines map-side and the second
    // agg is over the (much smaller) distinct pairs.
    df.select(col(id).as("id"), explode(grams).as("ngram"))
      .groupBy("ngram", "id")
      .agg(count(lit(1)).as("c"))
      .groupBy("ngram")
      .agg(sum(col("c")).as("occurrences"),
        count(lit(1)).as("doc_freq"))
      .filter(col("occurrences") >= minCount)
  }

  /** Deterministic corpus sharding by token budget: within each
    * `partitionCol` group, documents ordered by `id` are assigned to
    * consecutive shards of ~`budgetTokens` whitespace tokens (a doc may
    * straddle a boundary — shards are "filled until the running total
    * passes the budget", the shape used to cut a corpus into
    * training-chunk files). Shard id = floor(preceding-tokens / budget):
    * pure window arithmetic, reproducible under any partitioning, and
    * expressible in the oracle.
    *
    * SCALE NOTE: the running sum serializes each `partitionCol` group
    * into one window task. Pick a partition column with enough
    * cardinality for the cluster (lang × source, not lang) — the shard
    * ids stay deterministic for any choice; see SCALE.md.
    */
  def shardByTokenBudget(df: DataFrame, id: String, text: String,
                         partitionCol: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partitionCol).orderBy(col(id).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.select(col(id), col(partitionCol), wsTokenCount(text).as("n_tokens"))
      // integral `div` (not float /+floor): bit-stable across engines
      .withColumn("_cum", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("shard", expr(s"_cum div ${budgetTokens}L").cast("long"))
      .drop("_cum")
  }

  /** Whitespace-token count, null-safe: null text counts as 0 tokens —
    * NULL would silently drop the doc from any running budget (and
    * legacy sizeOfNull's -1 would SUBTRACT from it). Shared by
    * [[shardByTokenBudget]] and [[packGreedy]] so the subtlety lives
    * once. */
  private def wsTokenCount(text: String): Column = coalesce(
    size(filter(split(col(text), "[ \\t\\n\\f\\r]+"), t => length(t) > 0))
      .cast("long"),
    lit(0L))

  /** Deterministic per-group token-budget sampling — the MIXTURE
    * builder: from each `groupCol` (language, source), keep a
    * reproducible pseudo-random subset of documents totalling
    * ~`budgetTokens` whitespace tokens ("fill until the running total
    * passes the budget", like [[shardByTokenBudget]] — the straddling
    * doc is kept). Order within a group is md5(salt:id): uniform,
    * engine-replayable, and stable under any physical partitioning —
    * rerunning yields the same sample, changing the salt redraws it.
    * Same per-group window serialization note as sharding (SCALE.md):
    * at cluster scale pick groups with enough cardinality.
    */
  def sampleByTokenBudget(df: DataFrame, id: String, text: String,
                          groupCol: String, budgetTokens: Long,
                          salt: String = "graft"): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    // concat (null-propagating), not concat_ws: a null id must get a
    // null sort key in EVERY engine; nulls_last matches SQL defaults
    // (Spark alone sorts nulls first ascending)
    val order = md5(concat(lit(s"$salt:"), col(id).cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
      .orderBy(order.asc_nulls_last, col(id).asc_nulls_last)
      // explicit ROWS frame: the default RANGE frame makes PEERS (rows
      // tied on the sort key, e.g. duplicate ids) share one cumulative
      // value, inflating every peer's "preceding" total
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.select(col(id), col(groupCol), wsTokenCount(text).as("n_tokens"))
      .withColumn("_cum", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .filter(col("_cum") < budgetTokens)
      .select(col(id), col(groupCol), col("n_tokens"))
  }

  /** TRUE greedy sequence packing: within each group (docs ordered by
    * `id`), a pack accumulates documents until adding the next would
    * exceed `budgetTokens`; then a new pack starts. Unlike
    * [[shardByTokenBudget]]'s prefix-sum sharding (where a shard can
    * overflow by one straddling doc), greedy packs NEVER exceed the
    * budget — except a single document bigger than the budget, which
    * gets a pack of its own — which is exactly the guarantee needed to
    * cut corpora into fixed-token training sequences.
    *
    * The boundary condition depends on each pack's accumulated
    * remainder, so this is inherently sequential per group — not window
    * arithmetic. It runs as one `repartition(group)` +
    * `sortWithinPartitions(group, id)` + a streaming per-partition scan
    * with O(1) state; parallelism comes from the groups, the same
    * contract as [[shardByTokenBudget]] (see SCALE.md).
    */
  def packGreedy(df: DataFrame, id: String, text: String,
                 partitionCol: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(partitionCol).cast("string").as("group"),
        col(id).cast("long").as("id"), wsTokenCount(text).as("n_tokens"))
      .repartition(col("group"))
      .sortWithinPartitions(col("group"), col("id"))
      .as[(String, Option[Long], Long)] // Option: null ids pass through
      .mapPartitions { rows =>
        // a partition holds whole groups (hash-partitioned), sorted by
        // (group, id): reset state at each group change
        var curGroup: String = null
        var pack = 0L
        var used = 0L
        var docsInPack = 0L
        rows.map { case (g, docId, n) =>
          if (g != curGroup) {
            curGroup = g; pack = 0L; used = 0L; docsInPack = 0L
          }
          // split on DOC count, not token count: zero-token docs must
          // not let a following oversize doc share their pack
          if (docsInPack > 0 && used + n > budgetTokens) {
            pack += 1; used = 0L; docsInPack = 0L
          }
          used += n
          docsInPack += 1
          (g, docId, n, pack)
        }
      }
      .toDF("group", "id", "n_tokens", "pack")
  }

  // --------------------------------------------------------------------
  // Boilerplate detection (C4-style shared-line removal)
  // --------------------------------------------------------------------

  /** Lines occurring in at least `minDocFrequency` distinct documents —
    * the nav/footer/disclaimer text that line-level corpus cleaning
    * removes (the C4 recipe). Output is (line_digest, doc_freq): the
    * digest keeps the result narrow; join [[stripBoilerplate]] uses the
    * same digests. One explode + one digest-keyed aggregation.
    */
  def boilerplateLines(df: DataFrame, id: String, text: String,
                       minDocFrequency: Long): DataFrame =
    df.select(col(id).as("id"), explode(split(col(text), "\n")).as("line"))
      .select(col("id"), trim(col("line")).as("line"))
      .filter(length(col("line")) > 0)
      .groupBy(md5(col("line")).as("line_digest"))
      .agg(countDistinct(col("id")).as("doc_freq"))
      .filter(col("doc_freq") >= minDocFrequency)

  /** Documents with boilerplate lines removed: lines are exploded with
    * position, anti-joined against the (broadcastable — it is the head
    * of the line-frequency distribution, not the corpus) boilerplate
    * set, and reassembled in order. Docs whose every line is
    * boilerplate survive with empty text.
    */
  def stripBoilerplate(df: DataFrame, id: String, text: String,
                       minDocFrequency: Long): DataFrame = {
    val bp = boilerplateLines(df, id, text, minDocFrequency)
    val lines = df
      .select(col(id), posexplode(split(col(text), "\n")).as(Seq("pos", "line")))
      .withColumn("line", trim(col("line")))
      .filter(length(col("line")) > 0)
    val kept = lines.join(broadcast(bp),
        md5(lines("line")) === bp("line_digest"), "left_anti")
      .groupBy(col(id))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")), "\n").as("clean_text"))
    // docs whose every line was boilerplate still get a row (empty
    // text) — dropping them would silently shrink the corpus under an
    // id-join and break "output ids == input ids"
    df.select(col(id)).join(kept, Seq(id), "left_outer")
      .select(col(id), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Duplicated-span REMOVAL — the deletion half of ExactSubstr dedup
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"), completing [[graft.ext.Dedup.duplicatedSpanStats]]'
    * measurement: every character inside a length-`k` window whose
    * content occurs ≥2 times corpus-wide is CUT from the document, and
    * the unique remainder is reassembled in order, byte-identical.
    * Output keeps one row per input doc: `clean_text`, `n_spans`
    * (merged disjoint removed intervals), `n_removed_chars`.
    *
    * `stride = 1` is exact removal. At corpus scale pass `stride > 1`:
    * the same content-defined window sampling as the stats op (digest ≡
    * 0 mod stride — alignment-independent, so a copied span samples the
    * SAME windows in every document), making removal a deterministic
    * LOWER BOUND — sampled duplicated windows are cut, a few edge chars
    * of a long duplicated span may survive. Both settings replay
    * exactly in an external SQL oracle.
    *
    * Scale shape: the position stream, digest-count collapse, and
    * survivor semi-join are [[graft.ext.Dedup.windowDigestStream]] /
    * [[graft.ext.Dedup.duplicatedWindowPositions]] — narrow (id, pos,
    * digest) rows, text never rides them. Positions merge to disjoint
    * intervals with one lag + running-count window (same-length
    * intervals have monotone ends, so `pos > lag(pos) + k` IS the gap
    * test), collapse to one interval-array row per affected doc, and
    * the single text-bearing stage is the final id-equi join of docs
    * against that narrow per-doc array — the same one-join cost class
    * as writing the rewritten corpus, which IS the output. Reassembly
    * is an `aggregate` fold over the per-doc interval array (data-
    * dependent length, so interpreted — but it runs per DOC over a
    * handful of intervals, never per char; the per-char work stays in
    * the codegen'd digest scan).
    *
    * Null-id docs pass through unjudged (text unchanged, NULL stats —
    * the [[graft.ext.Dedup.duplicatedSpanStats]] attribution rule);
    * null-text docs keep NULL text with NULL stats. NULL ≠ clean.
    */
  def stripDuplicatedSpans(df: DataFrame, id: String, text: String,
                           k: Int, stride: Int = 1): DataFrame = {
    val dig = Dedup.windowDigestStream(df, id, text, k, stride)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
    val iv = Dedup.duplicatedWindowPositions(dig)
      .withColumn("brk",
        when(lag("pos", 1).over(w).isNull, 1)
          .when(col("pos") > lag("pos", 1).over(w) + lit(k), 1)
          .otherwise(0))
      // explicit ROWS frame: the default RANGE frame shares one
      // cumulative value across sort-key peers (CLAUDE.md)
      .withColumn("grp", sum(col("brk")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy("id", "grp")
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(k)).as("e"))
    val perDoc = iv.groupBy("id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"),
        count(lit(1)).as("n_spans"),
        sum((col("e") - col("s")).cast(LongType)).as("n_removed"))
    val joined = df.select(col(id).as("id"), col(text).as("t"))
      .join(perDoc.withColumnRenamed("id", "__did"),
        col("id") === col("__did"), "left_outer")
    // order-preserving reassembly: cursor walks the gaps between the
    // sorted disjoint intervals, then the tail past the last one
    val rebuilt = aggregate(
      col("ivs"),
      struct(lit(1).as("cur"), lit("").as("acc")),
      (a, s) => struct(
        s.getField("e").as("cur"),
        concat(a.getField("acc"),
          col("t").substr(a.getField("cur"),
            s.getField("s") - a.getField("cur"))).as("acc")),
      a => concat(a.getField("acc"),
        col("t").substr(a.getField("cur"),
          length(col("t")) - a.getField("cur") + 1)))
    val unjudged = col("id").isNull || col("t").isNull
    joined.select(col("id").as(id),
      when(unjudged, col("t"))
        .otherwise(coalesce(rebuilt, col("t"))).as("clean_text"),
      when(unjudged, lit(null).cast(LongType))
        .otherwise(coalesce(col("n_spans"), lit(0L))).as("n_spans"),
      when(unjudged, lit(null).cast(LongType))
        .otherwise(coalesce(col("n_removed"), lit(0L)))
        .as("n_removed_chars"))
  }

  // --------------------------------------------------------------------
  // PII scrubbing + repetition filters
  // --------------------------------------------------------------------

  /** Patterns chosen to behave identically under Java regex and RE2
    * (no lookaround, no lazy quantifiers, explicit char classes) so a
    * SQL oracle replays the scrub byte-for-byte. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val PhoneRe = "\\+?[0-9][0-9.()\\- ]{6,}[0-9]"

  /** PII redaction: emails, then IPv4 addresses, then phone-shaped digit
    * runs, each replaced by a typed placeholder, with per-kind match
    * counts (counted against the PREVIOUS stage's text, so a digit run
    * inside an already-redacted IP is not double-counted). Pure map-side
    * projection — at 100 TB this is regex work inside the scan, no
    * shuffle.
    */
  def piiScrub(df: DataFrame, id: String, text: String): DataFrame = {
    val e = regexp_replace(col(text), EmailRe, "<EMAIL>")
    val i = regexp_replace(e, Ipv4Re, "<IP>")
    val p = regexp_replace(i, PhoneRe, "<PHONE>")
    df.select(col(id),
      p.as("clean_text"),
      size(regexp_extract_all(col(text), lit(EmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(e, lit(Ipv4Re), lit(0))).as("n_ips"),
      size(regexp_extract_all(i, lit(PhoneRe), lit(0))).as("n_phones"))
  }

  /** Gopher-style repetition signals per document:
    *  - `dup_line_frac`    = (lines − distinct lines) / lines
    *  - `dup_line_char_frac` = chars in repeat OCCURRENCES (copies after
    *    the first) / total line chars
    *  - `top_bigram` / `top_bigram_frac` = most frequent word bigram
    *    (count desc, bigram asc tie-break) and the fraction of document
    *    characters its occurrences cover.
    * Line and bigram paths are each one explode + partial-aggregated
    * rollup keyed by doc id; every input doc keeps a row (empty/short
    * docs get zeros). These are THE cheap training-data filters for
    * templated/boilerplate spam — Rae et al. (Gopher) appendix A.
    */
  def repetitionStats(df: DataFrame, id: String, text: String): DataFrame = {
    val lineCounts = df
      .select(col(id).as("id"), explode(split(col(text), "\n")).as("line"))
      .select(col("id"), trim(col("line")).as("line"))
      .filter(length(col("line")) > 0)
      .groupBy("id", "line").agg(count(lit(1)).as("c"))
    val lineStats = lineCounts.groupBy("id").agg(
      sum("c").as("n_lines"),
      ((sum("c") - count(lit(1))).cast(DoubleType) / sum("c")).as("dup_line_frac"),
      (sum(when(col("c") > 1, (col("c") - 1) * length(col("line"))).otherwise(0L))
        .cast(DoubleType) /
        greatest(sum(col("c") * length(col("line"))), lit(1L)))
        .as("dup_line_char_frac"))

    // case-SENSITIVE bigrams (repetition is about verbatim repeats) —
    // no lower() here, unlike the n-gram statistics family
    val bgs = graft.functions.Strings.wordNgrams(col(text), 2,
      wholeTextFallback = false)
    val topBigram = df.select(col(id).as("id"), explode(bgs).as("bg"))
      .groupBy("id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("id")
      .agg(min(struct((-col("c")).as("nc"), col("bg").as("bg"))).as("top"))
      .select(col("id"), col("top.bg").as("top_bigram"),
        (-col("top.nc")).as("top_c"))

    df.select(col(id).as("id"), length(col(text)).as("n_chars"))
      .join(lineStats, Seq("id"), "left_outer")
      .join(topBigram, Seq("id"), "left_outer")
      .select(col("id").as(id),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("dup_line_frac"), lit(0.0)).as("dup_line_frac"),
        coalesce(col("dup_line_char_frac"), lit(0.0)).as("dup_line_char_frac"),
        coalesce(col("top_bigram"), lit("")).as("top_bigram"),
        coalesce(col("top_c") * length(col("top_bigram"))
          .cast(DoubleType) / greatest(col("n_chars"), lit(1L)), lit(0.0))
          .as("top_bigram_frac"))
  }

  /** C4-style corpus-wide LINE dedup: every distinct (trimmed,
    * non-empty) line keeps exactly its FIRST occurrence — lowest
    * (doc id, position) — and every other occurrence is removed; docs
    * reassemble in order (all-duplicate docs survive with empty text,
    * same contract as [[stripBoilerplate]]). This is the classic C4
    * cleanup (Raffel et al. §2.2: "we discarded all but one of any
    * three-sentence span occurring more than once" — here at line
    * granularity, the common production variant).
    *
    * Scale shape: the keeper per line is `min(struct(id, pos, line))` —
    * a PARTIAL-aggregable reduction, deliberately not a row_number
    * window, whose per-digest task would serialize on a line occurring
    * a billion times. The line text rides inside the min struct (it is
    * determined by the digest), so the kept rows fall straight out of
    * ONE digest-keyed aggregation — no join back onto the exploded
    * stream, which would recompute it; per partition at most one line
    * text per distinct digest shuffles. Null-id docs participate
    * normally (null sorts first, so they can be keepers) — the
    * reassembly join is null-safe.
    */
  def dedupLines(df: DataFrame, id: String, text: String): DataFrame = {
    val lines = df
      .select(col(id).as("id"), posexplode(split(col(text), "\n")).as(Seq("pos", "line")))
      .withColumn("line", trim(col("line")))
      .filter(length(col("line")) > 0)
    val kept = lines
      .groupBy(md5(col("line")).as("d"))
      .agg(min(struct(col("id"), col("pos"), col("line"))).as("k"))
      .groupBy(col("k.id").as("id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("k.pos").as("pos"),
          col("k.line").as("line")))),
          s => s.getField("line")), "\n").as("clean_text"))
    df.select(col(id).as("__did"))
      .join(kept, col("__did") <=> col("id"), "left_outer")
      .select(col("__did").as(id),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Content-policy term gate: per document, whole-word hit counts
    * against a literal blocklist — the bad-words filter every web
    * curation recipe runs (C4 drops any page with one hit) made
    * auditable: hit count, DISTINCT terms hit, and the flag, so the
    * log explains why a page dropped and a threshold sweep can pick
    * `minHits` (one slur vs a medical page mentioning anatomy once is
    * exactly the precision question the counts expose).
    *
    * Terms are restricted to lowercase alphanumeric words/phrases —
    * literal text, no metacharacters — which keeps ONE compiled
    * alternation portable across regex engines (Java and RE2 quote
    * rules differ; literals don't). Longest-first alternation so an
    * overlapping phrase ("hash join") beats its prefix word ("hash")
    * identically under both engines' leftmost-first matching. Matching
    * is case-insensitive via `lower()`, boundaries are ASCII `\b`
    * (both engines' default). Null text keeps null counts and a null
    * flag — the unscorable-row convention.
    *
    * Pure map-side projection: one regex pass per document, zero
    * shuffle, codegen-resident.
    */
  def termBlocklistStats(df: DataFrame, id: String, text: String,
                         terms: Seq[String], minHits: Int = 1): DataFrame = {
    require(terms.nonEmpty, "termBlocklistStats: empty blocklist")
    require(minHits >= 1, "minHits must be >= 1")
    terms.foreach(t => require(t.matches("[a-z0-9]+( [a-z0-9]+)*"),
      s"blocklist terms must be lowercase alphanumeric words/phrases, " +
        s"got '$t' — regex metacharacters are not portable across engines"))
    val pattern = terms.distinct.sortBy(t => (-t.length, t))
      .mkString("\\b(?:", "|", ")\\b")
    val hits = regexp_extract_all(lower(col(text)), lit(pattern), lit(0))
    df.select(col(id),
      when(col(text).isNotNull, size(hits)).as("n_hits"),
      when(col(text).isNotNull, size(array_distinct(hits))).as("n_terms"),
      when(col(text).isNotNull, (size(hits) >= minHits).cast("int"))
        .as("blocked"))
  }

  /** Gopher-style per-document quality gates as auditable booleans plus
    * the conjunction. Pure map-side arithmetic over counts (reusing the
    * [[qualityScore]] component definitions); the flags — not just a
    * scalar score — are what a pipeline logs to explain WHY a document
    * was dropped.
    *
    * The statistics are bound through Catalyst's `With` common-
    * expression (round 13): `PushDownPredicates` substitutes alias
    * definitions into filter conditions with NO cost model, so a caller
    * gating on `keep` over an expensive lineage used to re-evaluate the
    * whole upstream chain once per reference — q151's
    * `filter(keep)` over htmlToText inlined ELEVEN copies of the
    * html→text regex chain into one Filter (FilterExec does no
    * subexpression elimination; 640 s of its 721 s at sf100). With
    * `With`, however far the predicate is pushed, the optimizer's
    * RewriteWithExpression re-extracts the shared defs into a Project
    * below the filter, where they evaluate once per row (q151 sf100:
    * 721 → ~150 s). Flag values are bit-identical to the flat form.
    */
  def qualityRules(df: DataFrame, id: String, text: String,
                   minTokens: Long = 5L, maxTokens: Long = 100000L,
                   minAvgTokenLen: Double = 2.0, maxAvgTokenLen: Double = 12.0,
                   maxPunctRatio: Double = 0.3,
                   keepCols: Seq[String] = Nil): DataFrame = {
    val st = graft.functions.Strings.tokenStats(lower(col(text)), Stopwords)
    val nToks = st.getField("n_tokens").cast(DoubleType)
    val nChars = length(col(text)).cast(DoubleType)
    // native single-pass punct count (the qualityScore rationale)
    val punct = graft.functions.Strings.punctCount(col(text))
      .cast(DoubleType)
    val tokChars = st.getField("tok_chars").cast(DoubleType)
    val avgLen = when(nToks > 0, tokChars / nToks).otherwise(0.0)
    val punctRatio = when(nChars > 0, punct / nChars).otherwise(0.0)
    // keepCols ride the SAME projection (the htmlToText convention):
    // a caller gating a computed frame must not have to self-join the
    // flags back onto an expensive lineage — one map-side select.
    optimizerFence(
      df.select((col(id) +: keepCols.map(col)) ++ Seq(
          (nToks >= minTokens && nToks <= maxTokens).as("ok_length"),
          (avgLen >= minAvgTokenLen && avgLen <= maxAvgTokenLen).as("ok_token_len"),
          (punctRatio <= maxPunctRatio).as("ok_punct")): _*)
        .withColumn("keep",
          col("ok_length") && col("ok_token_len") && col("ok_punct")))
  }

  private val fenceId = new java.util.concurrent.atomic.AtomicLong

  /** Value-identity optimizer fence (`Dataset.observe` row count):
    * `PushDownPredicates` substitutes alias definitions into filter
    * conditions with NO cost model, so a caller filtering on a flag
    * derived from an expensive lineage re-evaluates the whole chain
    * once per reference — q151's `filter(keep)` over
    * [[htmlToText]]+[[qualityRules]] inlined ELEVEN copies of the
    * html→text regex chain into one Filter condition (FilterExec does
    * no subexpression elimination; 640 of its 721 s at sf100, and the
    * duplicated-copy garbage amplified GC super-linearly). A
    * CollectMetrics node must observe exact pre-filter rows, so no
    * predicate (or projection substitution) crosses it: flags are
    * computed ONCE per row in their own projection and downstream
    * filters see plain attributes. (Catalyst's `With` common-expression
    * was tried first; its rewrite runs before predicate pushdown, so
    * the extracted aliases get re-inlined — measured, round 13.)
    * Deterministic, value-identical, one accumulator add per row.
    *
    * Restrictions (by construction of CollectMetrics):
    *  - A fenced frame may NOT be embedded in a scalar/IN subquery
    *    expression (Spark rejects observed metrics inside subqueries
    *    with an AnalysisException). Callers needing that must join
    *    against the fenced frame instead — same semantics, and a join
    *    keeps the fence.
    *  - Each call registers one session-lifetime named accumulator on
    *    the driver (hence the counter: observe requires unique names
    *    per plan). One-shot pipelines pay O(queries) of these —
    *    harmless. ITERATIVE per-round callers must not re-fence inside
    *    the loop; fence once outside, or pin the loop state via
    *    PinnedLoop (which cuts lineage and with it the fence node).
    */
  private[graft] def optimizerFence(df: DataFrame): DataFrame =
    df.observe(s"__graft_fence_${fenceId.incrementAndGet()}",
      count(lit(1)).as("rows"))

  /** Per-domain rollup of [[qualityRules]]' verdicts — the step that
    * turns page-level gates into a DOMAIN blocklist (C4/RefinedWeb
    * practice: a domain whose pages mostly fail is spam/boilerplate at
    * the source; blocking it beats re-judging every future crawl of
    * it). Per group: doc count, per-rule failure counts (a NULL flag —
    * null text — counts as a FAILURE: an unjudgeable page is not a
    * pass), kept count, exact keep share (6 dp, one integer division),
    * and the block verdict (`keep_share < minKeepShare`).
    *
    * One partial-aggregated groupBy over the map-side flag projection;
    * output is domain-cardinality.
    */
  def domainQualityReport(flags: DataFrame, domainCol: String,
                          ruleCols: Seq[String], keepCol: String,
                          minKeepShare: Double): DataFrame = {
    require(ruleCols.nonEmpty, "at least one rule column")
    require(minKeepShare > 0.0 && minKeepShare <= 1.0,
      "minKeepShare must be in (0, 1]")
    val snap6 = (c: Column) => floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    val failCounts = ruleCols.map { c =>
      sum(when(coalesce(col(c), lit(false)), lit(0L)).otherwise(lit(1L)))
        .as(s"n_fail_${c.stripPrefix("ok_")}")
    }
    val aggs = failCounts :+
      sum(coalesce(col(keepCol), lit(false)).cast("long")).as("n_kept")
    flags.groupBy(col(domainCol))
      .agg(count(lit(1)).as("n_docs"), aggs: _*)
      .withColumn("keep_share",
        snap6(col("n_kept").cast("double") / col("n_docs").cast("double")))
      .withColumn("blocked",
        (col("keep_share") < lit(minKeepShare)).cast("int"))
  }

  /** Learned quality classification — fastText-style hashed-n-gram
    * linear inference ([[graft.functions.HashedNgramScoreExpr]]): the
    * MAIN quality filter of modern curation stacks (CCNet/FineWeb
    * practice), where [[qualityRules]] is the rule-based gate and the
    * surprisal family the LM gate. Weights come from OFFLINE training
    * (a one-node logistic regression over hashed bags — not a cluster
    * job); inference is one codegen'd dot product per document, a
    * zero-shuffle map-side projection that composes with the Gumbel
    * draw (q119) for soft quality-weighted sampling.
    *
    * Output: (id, n_features, score, keep) — n_features = 2·tokens − 1
    * (unigrams + adjacent bigrams), score = bias + mean feature
    * weight (RAW double; snap with Rounding.reprRound6 before any
    * cross-engine compare), keep = score > 0 as int. Null text → null
    * score/keep and null n_features.
    */
  def classifierScores(df: DataFrame, id: String, text: String,
                       weights: Array[Double], bias: Double = 0.0): DataFrame = {
    val lowered = lower(col(text))
    val toks = filter(split(lowered, "[ \\t\\n\\f\\r]+"), t => length(t) > 0)
    val score = graft.functions.Classifier.hashedNgramScore(lowered, weights, bias)
    df.select(
      col(id),
      when(col(text).isNotNull,
        when(size(toks) > 0, size(toks) * 2 - 1).otherwise(0))
        .cast(LongType).as("n_features"),
      score.as("score"),
      (score > 0).cast("int").as("keep"))
  }

  /** Threshold sweep of a binary scorer against a truth label — the
    * operating-point report (precision / recall / F1 per cut) that
    * turns [[classifierScores]]' raw scores into a DEPLOYABLE filter:
    * picking the keep-threshold is the real decision a curation stack
    * makes, and it is made from exactly this table. Pairs with the
    * audit family (q125 LSH recall, q137 ANN metrics): measure the
    * cheap gate against a reference signal before trusting it at
    * corpus scale.
    *
    * `df` carries one row per example with a numeric score and a
    * boolean truth label; rows where either is null are excluded
    * (they are undefined under both the gate and the truth). Predicted
    * positive ⇔ score ≥ threshold. Scale shape: ONE scan cross-joined
    * with the tiny threshold list (a broadcast — |thresholds| rows),
    * partial-aggregated map-side, so the shuffle carries at most
    * |thresholds| × partitions count rows at any corpus size.
    *
    * Cross-engine contract: pass a score already snapped to a decimal
    * grid (Rounding.reprRound6) — comparing a RAW ln/exp-derived
    * double against a cut lets a one-ulp engine disagreement flip a
    * count (the rounded-ranking-key rule, applied to thresholding).
    * Ratios are floor-snapped at 6 dp; F1 folds the SNAPPED precision
    * and recall so the oracle replays the identical double chain.
    */
  def thresholdSweep(df: DataFrame, score: String, label: String,
                     thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    require(thresholds.distinct.length == thresholds.length,
      "thresholds must be distinct")
    val spark = df.sparkSession
    import spark.implicits._
    val th = broadcast(thresholds.toDF("threshold"))
    val base = df
      .filter(col(score).isNotNull && col(label).isNotNull)
      .select(col(score).cast("double").as("s"),
        col(label).cast("boolean").as("y"))
    val snap6 = (c: Column) => floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    val counts = base.crossJoin(th)
      .groupBy("threshold")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("s") >= col("threshold") && col("y"), 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("s") >= col("threshold") && !col("y"), 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("s") < col("threshold") && col("y"), 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("s") < col("threshold") && !col("y"), 1L)
          .otherwise(0L)).as("tn"))
    val p = when(col("tp") + col("fp") > 0,
      snap6(col("tp").cast("double") /
        (col("tp") + col("fp")).cast("double")))
    val r = when(col("tp") + col("fn") > 0,
      snap6(col("tp").cast("double") /
        (col("tp") + col("fn")).cast("double")))
    counts
      .withColumn("precision", p)
      .withColumn("recall", r)
      .withColumn("f1",
        when(col("precision").isNotNull && col("recall").isNotNull &&
            col("precision") + col("recall") > 0,
          snap6(lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall")))))
  }

  // --------------------------------------------------------------------
  // BPE merge training (tokenizer vocabulary construction)
  // --------------------------------------------------------------------

  /** Byte-pair-encoding merge training, the classic Sennrich et al.
    * formulation: start from characters (plus an end-of-word marker),
    * repeatedly merge the most frequent adjacent symbol pair. Returns
    * the merge table (rank, left, right, merged, score).
    *
    * Scale shape: ONE corpus-scale pass builds the word-frequency
    * table (explode + count — the same aggregation as [[vocabularyDF]]);
    * every merge iteration then runs over that aggregated vocab, which
    * is orders of magnitude smaller than the corpus (pair counting is a
    * weighted explode + sum; the argmax pulls ONE row to the driver;
    * ties break lexicographically so training is deterministic). The
    * in-array pair merge is plain Scala over `Dataset[Vocab]` — at vocab
    * scale, not corpus scale, exactly where typed code belongs.
    */
  /** One non-overlapping left-to-right merge pass of the pair (l, r)
    * over a symbol sequence — THE BPE step, shared by training and
    * encoding so the two can never diverge. */
  private def applyMerge(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Word → initial BPE symbols: extended GRAPHEME CLUSTERS (`\X`),
    * not UTF-16 chars (split("") shears surrogate pairs into invalid
    * half-symbols) and not raw codepoints either — a combining accent
    * ("e" + U+0301) or an emoji ZWJ family must stay one symbol, or
    * merges produce tokens that split user-perceived characters. Plus
    * the end-of-word marker.
    *
    * The marker is U+FDD0, a designated Unicode NONCHARACTER: unlike a
    * printable sentinel ("</w>"), no valid interchange text contains
    * it, so merges can never REASSEMBLE the marker from corpus
    * graphemes (a markup-like document containing a literal "</w>"
    * would otherwise inflate n_words and deflate token_mass in
    * [[bpeInvariantSummary]]). A word that does carry U+FDD0 is
    * malformed input and fails loud rather than silently corrupting
    * the word-boundary bookkeeping. */
  private[ext] val EndOfWord = "\uFDD0"
  private val GraphemePattern = java.util.regex.Pattern.compile("\\X")
  private def initialSymbols(w: String): Seq[String] = {
    require(!w.contains(EndOfWord),
      s"input word contains the reserved BPE end-of-word marker U+FDD0 " +
        s"(a Unicode noncharacter — not valid interchange text): $w")
    val out = Seq.newBuilder[String]
    val m = GraphemePattern.matcher(w)
    while (m.find()) out += m.group()
    (out += EndOfWord).result()
  }

  /** The corpus's (word, freq) table — the single scan [[bpeTrain]]
    * and [[bpeInvariantSummary]] share. */
  private[ext] def wordFrequencies(df: DataFrame, text: String): DataFrame =
    df.select(explode(filter(split(lower(col(text)), "[ \\t\\n\\f\\r]+"),
        t => length(t) > 0)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  def bpeTrain(df: DataFrame, id: String, text: String,
               numMerges: Int): DataFrame =
    bpeTrainFromWords(wordFrequencies(df, text), numMerges)

  /** The trainer the public API binds: batched selection, which the
    * spec proves merge-for-merge equivalent to the sequential
    * reference. */
  private def bpeTrainFromWords(words: DataFrame,
                                numMerges: Int): DataFrame =
    bpeTrainFromWordsBatched(words, numMerges)

  /** [[bpeTrain]] from a pre-aggregated (word, freq) frame — BATCHED
    * merge selection (the production path; see
    * [[bpeTrainFromWordsSequential]] for the one-merge-per-job
    * reference both are spec-tested equivalent to). One pair-count
    * aggregation selects up to `batchSize` merges per Spark round, so
    * a 32k-vocab train schedules ~vocab/batch jobs instead of one per
    * merge.
    *
    * Batching is EXACTLY equivalent to sequential training, not an
    * approximation, because a batch is the maximal prefix of the
    * ranked pair list (count desc, pair asc — the sequential order)
    * that is pairwise symbol-disjoint, truncated to pairs whose count
    * STRICTLY exceeds the first candidate left out. Why that suffices:
    * applying a batch member can only change counts of pairs sharing
    * its symbols, and every pair a merge CREATES, (x, ab) or (ab, y),
    * occurs only where (x, a) / (b, y) occurred, so its count is
    * bounded by an interacting pair's pre-batch count — and all
    * interacting pairs rank at or below the boundary (the prefix
    * selected everything above it). Each batch member therefore
    * remains the strict argmax at its turn, merged-string collisions
    * included: a candidate whose concatenation equals a symbol already
    * in the vocabulary (or an earlier batch member's output) would
    * unify counts unpredictably, so it closes its batch and the next
    * round recounts.
    */
  private[ext] def bpeTrainFromWordsBatched(words: DataFrame, numMerges: Int,
                                            batchSize: Int = 16,
                                            onRound: Int => Unit = _ => ())
      : DataFrame = {
    require(numMerges >= 1, "numMerges must be >= 1")
    require(batchSize >= 1, "batchSize must be >= 1")
    val spark = words.sparkSession
    import spark.implicits._
    // per-round word-table state rides the shared PinnedLoop (same
    // pattern as connectedComponents; release() in finally so a
    // mid-train failure never leaks the pinned blocks)
    val loop = PinnedLoop.start(words
      .as[(String, Long)]
      .map { case (w, f) => (initialSymbols(w), f) }
      .toDF("symbols", "freq"))
    try {
    var vocab = loop.current.as[(Seq[String], Long)]
    // the alphabet in play: base graphemes (one aggregation) + each
    // merged symbol as training adds it — vocabulary-scale, driver-held
    // like the merge table itself
    val present = scala.collection.mutable.HashSet.empty[String]
    present ++= vocab.flatMap(_._1).distinct().collect()

    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      // candidate window: well past the batch so the strictness
      // boundary is almost always the true next-interacting pair, not
      // the window edge (the window edge is a CONSERVATIVE boundary)
      val window = math.max(batchSize * 4, 64)
      val cands = vocab.flatMap { case (syms, f) =>
          syms.sliding(2).collect { case Seq(a, b) => ((a, b), f) }
        }
        .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
        .map { case ((a, b), n) => (a, b, n) }
        .orderBy(col("_3").desc, col("_1").asc, col("_2").asc)
        .head(window)
      if (cands.isEmpty || cands.head._3 < 2) exhausted = true
      else {
        val batch = Seq.newBuilder[(String, String, Long)]
        val used = scala.collection.mutable.HashSet.empty[String]
        var size = 0
        var boundary = -1L // count of the first candidate NOT selected
        var open = true
        val wanted = math.min(batchSize, numMerges - rank)
        var i = 0
        while (open && i < cands.length) {
          val (a, b, n) = cands(i)
          if (size >= wanted || n < 2) { boundary = n; open = false }
          else {
            val m = a + b
            if (used(a) || used(b) || used(m)) { boundary = n; open = false }
            else {
              batch += ((a, b, n)); size += 1
              used += a; used += b; used += m
              // vocab collision: valid as the LAST member of its batch
              // (its own count is pre-batch-exact) but nothing sound
              // can follow it before a recount — the NEXT candidate
              // (if any) becomes the strictness boundary below
              if (present.contains(m)) {
                open = false
                if (i + 1 < cands.length) boundary = cands(i + 1)._3
              }
              i += 1
            }
          }
        }
        // a drained FULL window means the ranked list likely continues
        // past it: the window edge is the conservative boundary
        if (boundary < 0 && cands.length == window)
          boundary = cands.last._3
        // strictness: drop trailing members whose count TIES the
        // boundary (a pair created by an earlier batch merge could tie
        // them and win the lexicographic argmax); the head is the true
        // argmax and always survives
        val selectedAll = batch.result()
        val selected =
          if (boundary < 0) selectedAll
          else {
            val kept = selectedAll.filter(_._3 > boundary)
            if (kept.isEmpty && selectedAll.nonEmpty) selectedAll.take(1)
            else kept
          }
        if (selected.nonEmpty) {
          onRound(selected.size)
          selected.foreach { case (l, r, n) =>
            merges += ((rank, l, r, l + r, n))
            present += (l + r)
            rank += 1
          }
          val toApply = selected.map { case (l, r, _) => (l, r) }
          vocab = loop.advance(vocab.map { case (syms, f) =>
            (toApply.foldLeft(syms) { case (s, (l, r)) => applyMerge(s, l, r) }, f)
          }.toDF("symbols", "freq")).as[(Seq[String], Long)]
        }
      }
    }
    merges.result().toDF("rank", "left", "right", "merged", "score")
    } finally loop.release()
  }

  /** [[bpeTrain]] from a pre-aggregated (word, freq) frame — the
    * classic ONE-merge-per-round reference implementation
    * ([[bpeTrainFromWordsBatched]] is spec-proven equivalent and is
    * what the public API runs). */
  private[ext] def bpeTrainFromWordsSequential(words: DataFrame,
                                               numMerges: Int): DataFrame = {
    require(numMerges >= 1, "numMerges must be >= 1")
    val spark = words.sparkSession
    import spark.implicits._
    val loop = PinnedLoop.start(words
      .as[(String, Long)]
      .map { case (w, f) => (initialSymbols(w), f) }
      .toDF("symbols", "freq"))
    try {
    var vocab = loop.current.as[(Seq[String], Long)]

    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 0
    while (rank < numMerges) {
      val top = vocab.flatMap { case (syms, f) =>
          syms.sliding(2).collect { case Seq(a, b) => ((a, b), f) }
        }
        .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
        .map { case ((a, b), n) => (a, b, n) }
        // max count; ties by (left, right) ascending — deterministic
        .orderBy(col("_3").desc, col("_1").asc, col("_2").asc)
        .head(1)
      if (top.isEmpty) rank = numMerges
      else {
        val (l, r, n) = top.head
        if (n < 2) rank = numMerges // nothing left worth merging
        else {
          merges += ((rank, l, r, l + r, n))
          vocab = loop.advance(vocab.map { case (syms, f) =>
            (applyMerge(syms, l, r), f)
          }.toDF("symbols", "freq")).as[(Seq[String], Long)]
          rank += 1
        }
      }
    }
    merges.result().toDF("rank", "left", "right", "merged", "score")
    } finally loop.release()
  }

  /** Oracle-checkable invariant summary of a BPE train+encode round
    * (the q81 precedent): the iterative argmax-merge recurrence is not
    * SQL-expressible, but any CORRECT merge table + encoding satisfies
    * invariants an independent engine can compute from the input alone.
    * One row:
    *  - `n_merges`, `vocab_size_minus_base` — both = requested merges
    *    (each merge adds exactly one new vocab entry);
    *  - `rank_violations` — ranks not 0..n-1 in order (0);
    *  - `score_violations` — a merge score below 2 or INCREASING across
    *    ranks (0: the max pair count is non-increasing — a new pair
    *    (x, lr) occurs at most once per lr occurrence, so its count is
    *    bounded by the count of the pair just merged);
    *  - `concat_violations` — `merged != left+right` (0);
    *  - `vocab_violations` — emitted tokens outside base∪merged (0);
    *  - `n_words` — tokens ending in the end-of-word marker (exactly
    *    one per input word, however merges rearranged the interior);
    *  - `token_mass` — codepoints of emitted tokens net of markers
    *    (encoding conserves character mass: the oracle recomputes it
    *    as `sum(length(word))` over the split input).
    * A dropped word, a phantom merge, an out-of-vocab token, or a
    * mass-leaking encode bug each flip a column.
    */
  def bpeInvariantSummary(df: DataFrame, id: String, text: String,
                          numMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // ONE corpus word-aggregation scan feeds both the trainer and the
    // base-vocabulary set (eager: the two consumers would otherwise
    // recompute it, the SCALE.md round-7 checkpoint rule)
    val words = wordFrequencies(df, text).localCheckpoint(eager = true)
    val merges = bpeTrainFromWords(words, numMerges)
    // the merge table is vocab-scale (driver-held by design, like the
    // bpeEncode closure); structural checks run on the driver
    val table = merges.orderBy("rank").collect().map(r =>
      (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    val rankViolations = table.zipWithIndex.count { case ((rk, _, _, _, _), i) => rk != i }
    val scoreViolations = table.count(_._5 < 2) +
      table.sliding(2).count {
        case Array((_, _, _, _, s1), (_, _, _, _, s2)) => s2 > s1
        case _ => false
      }
    val concatViolations = table.count { case (_, l, r, m, _) => m != l + r }
    // base vocabulary: distinct initial symbols corpus-wide — bounded
    // by the corpus charset (graphemes + the marker), driver-small
    val baseSet = words.select(col("word")).as[String]
      .flatMap(w => initialSymbols(w))
      .distinct().collect().toSet
    val mergedSet = table.map(_._4).toSet
    val vocabSizeMinusBase = (baseSet ++ mergedSet).size - baseSet.size
    val vocabB = spark.sparkContext.broadcast(baseSet ++ mergedSet)
    bpeEncode(df, id, text, merges)
      .select(explode(col("tokens")).as("tok")).as[String]
      .map { t =>
        val eow = t.endsWith(EndOfWord)
        val mass = t.codePointCount(0, t.length) - (if (eow) EndOfWord.length else 0)
        (mass.toLong, if (eow) 1L else 0L,
          if (vocabB.value.contains(t)) 0L else 1L)
      }
      .toDF("m", "w", "v")
      .agg(sum(col("m")).as("m"), sum(col("w")).as("w"), sum(col("v")).as("v"))
      .select(
        lit(table.length.toLong).as("n_merges"),
        lit(rankViolations.toLong).as("rank_violations"),
        lit(scoreViolations.toLong).as("score_violations"),
        lit(concatViolations.toLong).as("concat_violations"),
        lit(vocabSizeMinusBase.toLong).as("vocab_size_minus_base"),
        col("v").cast("long").as("vocab_violations"),
        col("w").cast("long").as("n_words"),
        col("m").cast("long").as("token_mass"))
  }

  /** Apply a trained merge table ([[bpeTrain]] output) to encode text:
    * each word is split to characters + end-of-word, then merges apply
    * in RANK order (the BPE contract — apply order must match training
    * order, not greedy-longest). The merge table is driver-small and
    * travels in the closure; encoding is a map-side `Dataset` transform,
    * no shuffle at any corpus size. Output: (id, tokens array,
    * n_bpe_tokens).
    */
  def bpeEncode(df: DataFrame, id: String, text: String,
                merges: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val table: Seq[(String, String)] = merges
      .orderBy("rank").select("left", "right")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

    df.select(col(id).cast("long").as("id"), col(text).as("t"))
      .as[(Option[Long], String)] // Option: null ids pass through
      .mapPartitions { rows =>
        // per-partition word memo: Zipfian corpora re-encode the same
        // words constantly; cache makes encoding O(distinct words ×
        // merges) per partition instead of O(occurrences × merges)
        val memo = scala.collection.mutable.HashMap.empty[String, Seq[String]]
        def encodeWord(w: String): Seq[String] = memo.getOrElseUpdate(w, {
          var syms = initialSymbols(w)
          table.foreach { case (l, r) => syms = applyMerge(syms, l, r) }
          syms
        })
        rows.map { case (docId, t) =>
          // Locale.ROOT: must match Spark lower()'s locale-free fold
          // used at training time (tr-TR JVMs would otherwise produce
          // symbols the merge table has never seen)
          val toks = Option(t).getOrElse("")
            .toLowerCase(java.util.Locale.ROOT)
            .split("[ \\t\\n\\f\\r]+").filter(_.nonEmpty).toSeq
            .flatMap(encodeWord)
          (docId, toks, toks.length.toLong)
        }
      }
      .toDF(id, "tokens", "n_bpe_tokens")
  }

  /** Per-language tokenizer FERTILITY audit — the multilingual-equity
    * numbers (tokens/word, chars/token) a tokenizer review reads before
    * a mixture is budgeted: a language whose fertility runs 2× another's
    * pays 2× the sequence length for the same text, so a vocab trained
    * on a skewed mixture silently taxes the under-represented languages.
    * Output: one row per language — n_words, n_distinct_words, n_chars,
    * n_tokens (end-of-word marker included, the `</w>` accounting),
    * fertility = tokens/word, chars_per_token (both floor-snapped).
    *
    * Encoding is the trainer's OWN fold — merges in rank order, each a
    * single non-overlapping left-to-right [[applyMerge]] pass — so the
    * encoded symbols equal the trainer's final vocab state for every
    * training word by construction, and an external SQL oracle replays
    * the fold verbatim: one `replace` per merge over a noncharacter-
    * separated symbol string (SQL `replace` IS the same left-to-right
    * non-overlapping pass).
    *
    * Scale shape: ONE corpus scan explodes to the (lang, word, freq)
    * aggregation (vocabulary×languages scale — the [[bpeTrain]]
    * location rule; eagerly checkpointed because two stages of one
    * action consume it). The merge fold runs once per DISTINCT word
    * with a cheap substring guard (a merge whose concatenation is not
    * a substring of word+marker cannot apply — symbols are contiguous
    * grapheme runs), and the fertility join is vocab-keyed, never
    * corpus-keyed.
    */
  def bpeFertilityByLang(df: DataFrame, text: String, lang: String,
                         merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val byLang = df
      .select(col(lang).as("lang"),
        explode(filter(split(lower(col(text)), "[ \\t\\n\\f\\r]+"),
          t => length(t) > 0)).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("freq"))
      .localCheckpoint(true)
    val enc = byLang.groupBy("word").agg(count(lit(1)).as("n_langs"))
      .select(col("word")).as[String]
      .map { w =>
        val hay = w + EndOfWord
        val syms = merges.foldLeft(initialSymbols(w)) { case (s, (l, r)) =>
          if (hay.contains(l + r)) applyMerge(s, l, r) else s
        }
        (w, syms.length.toLong)
      }
      .toDF("word", "n_tokens")
    byLang.join(enc, Seq("word"))
      .groupBy("lang")
      .agg(sum(col("freq")).as("n_words"),
        count(lit(1)).as("n_distinct_words"),
        sum(col("freq") * length(col("word"))).as("n_chars"),
        sum(col("freq") * col("n_tokens")).as("n_tokens"))
      .select(col("lang"), col("n_words"), col("n_distinct_words"),
        col("n_chars"), col("n_tokens"),
        graft.functions.Rounding.reprRound6(
          col("n_tokens") / col("n_words")).as("fertility"),
        graft.functions.Rounding.reprRound6(
          col("n_chars") / col("n_tokens")).as("chars_per_token"))
  }

  // --------------------------------------------------------------------
  // Language identification (character n-gram heuristic)
  // --------------------------------------------------------------------

  /** Distinctive character trigrams per language. Deliberately small:
    * the point is a deterministic, broadcast-joinable heuristic, not a
    * trained model. CJK text is handled separately by codepoint ratio.
    */
  val TrigramProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "he ", " th", "ing", "ng ", "and", "nd ", " an",
      " of", "of ", "ion", " to", "to ", "is ", " is", "ed ", "ent",
      " in", "in ", "tha", "hat", "at ", " wi", "wit", "ith"),
    "es" -> Seq(" de", "de ", " la", "la ", " el", "el ", "que", " qu",
      "ue ", "ión", "ció", "aci", " lo", "los", "os ", " es", "es ",
      "ado", "da ", " un", "una", "nte", " co", "con", "par"),
    "de" -> Seq("der", " de", "die", " di", "ie ", "und", " un", "nd ",
      "ein", " ei", "ine", "ich", "ch ", "sch", "ung", "ng ", "gen",
      "en ", "cht", "ht ", "das", "as ", "ist", "st ", "ber"),
    "fr" -> Seq(" de", "de ", " le", "le ", "les", "es ", " la", "la ",
      "ent", "nt ", " et", "et ", "que", " qu", "ue ", "ion", "ais",
      "ait", " un", "une", "ne ", "our", " po", "pou", "eur"))

  /** Detected language per document: trigram-profile vote with a CJK
    * codepoint-ratio override.
    *
    * Entirely map-side: per-language hit counts are `array_contains`
    * filters over the row's trigram array against literal profiles
    * (~25 trigrams × 4 languages), argmax is a sorted struct array.
    * No explode, no join, no shuffle — at 100 TB this is a projection
    * over the scan, nothing more. (The first version exploded trigrams
    * into a broadcast join + per-doc aggregation + window: three
    * shuffles that this formulation deletes.)
    */
  def languageId(df: DataFrame, id: String, text: String): DataFrame = {
    val norm = regexp_replace(regexp_replace(lower(col(text)), "[^\\p{L} ]", " "),
      " +", " ")
    // coalesce preserves the old contract: NULL text votes with an
    // EMPTY trigram array (zero hits everywhere), not a null that
    // would null-propagate through every array_contains
    val tri = coalesce(
      graft.functions.Strings.charNgrams(norm, 3, wholeTextFallback = false),
      array().cast("array<string>"))

    val langs = TrigramProfiles.keys.toSeq.sorted
    val hitCols = langs.map { l =>
      val profile = array(TrigramProfiles(l).map(lit): _*)
      size(filter(col("__tri"), t => array_contains(profile, t))).as(s"__h_$l")
    }
    // ascending sort of (-hits, lang): max hits first, lang asc on ties
    val ranked = sort_array(array(langs.map(l =>
      struct((-col(s"__h_$l")).as("nh"), lit(l).as("lang"))): _*)).getItem(0)

    val cjkRatio =
      size(regexp_extract_all(col("__t"), lit("[\\u4e00-\\u9fff]"), lit(0)))
        .cast(DoubleType) / greatest(length(col("__t")), lit(1)).cast(DoubleType)
    // explicit whitespace class (not \s): identical token boundaries in
    // every regex engine an oracle might replay this in
    val nToks = size(filter(split(col("__t"), "[ \\t\\n\\f\\r]+"), t => length(t) > 0))

    df.select(col(id), col(text).as("__t"), tri.as("__tri"))
      .select(col(id) +: col("__t") +: hitCols: _*)
      .select(col(id),
        when(cjkRatio > 0.05, lit("zh"))
          .otherwise(when(ranked.getField("nh") === 0, lit("und"))
            .otherwise(ranked.getField("lang"))).as("detected_lang"),
        round((-ranked.getField("nh")).cast(DoubleType) /
          greatest(nToks, lit(1)), 4).as("confidence"))
  }

  /** Corpus vocabulary: per-token total occurrences and document
    * frequency, thresholded — the input to tokenizer/BPE vocab
    * construction. One explode + one aggregation (map-side partial);
    * the threshold prunes the long tail before anything is collected.
    */
  def vocabularyDF(df: DataFrame, id: String, text: String,
                   minCount: Long = 1L): DataFrame =
    df.select(col(id).as("id"),
        explode(split(lower(col(text)), "[ \\t\\n\\f\\r]+")).as("tok"))
      .filter(length(col("tok")) > 0)
      // two-level agg (see ngramStats): avoids the Expand that
      // count+countDistinct in one aggregate would force on every row
      .groupBy("tok", "id")
      .agg(count(lit(1)).as("c"))
      .groupBy("tok")
      .agg(sum(col("c")).as("occurrences"),
        count(lit(1)).as("doc_freq"))
      .filter(col("occurrences") >= minCount)

  // --------------------------------------------------------------------
  // TF-IDF keyword extraction
  // --------------------------------------------------------------------

  /** Top-k characteristic terms per document by TF-IDF
    * (tf · ln(N/df)) — the classic keyword-extraction / doc-signature
    * score a corpus-curation pipeline uses to tag and cluster content.
    *
    * Scale shape: the corpus collapses to the NARROW (id, term, tf)
    * stream in one explode + partial-aggregated count; document
    * frequency is a second aggregation of that SAME stream (lazy
    * localCheckpoint — the explode runs once, blocks release with the
    * result), and the corpus size N rides in as a broadcast one-row
    * count. The final top-k window partitions by document, so its sort
    * is per-document-vocabulary, never global. Nothing wider than
    * (id, term, counts) ever shuffles.
    *
    * Cross-engine determinism: `ln` is not guaranteed bit-identical
    * across engines (unlike +,·,/,sqrt which are IEEE
    * correctly-rounded), so ranking uses the ROUNDED score (4 dp) with
    * an ascending-term tiebreak — near-ties become true ties with one
    * deterministic winner, and an external SQL oracle replays the
    * ranking exactly.
    */
  /** The load-bearing (id, term) token stream: lowercased, split on the
    * EXPLICIT whitespace class (CLAUDE.md — Java `\s` includes U+000B
    * and desynchronizes from RE2-based oracles). ONE definition so
    * every term-level operator and its oracle tokenize identically.
    */
  private def termStream(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id).as("id"),
        explode(split(lower(col(text)), "[ \\t\\n\\f\\r]+")).as("term"))
      .filter(length(col("term")) > 0)

  /** Per-(doc, term) frequencies — the aggregated, vocabulary-per-doc-
    * sized stream the scoring operators share. NOTE: null ids group
    * together (standard GROUP BY semantics, replayed identically by the
    * SQL oracles), so multiple null-id docs score as ONE merged
    * pseudo-document — assign ids upstream if per-doc attribution of
    * null-id rows matters. */
  private def termFrequencies(df: DataFrame, id: String, text: String): DataFrame =
    termStream(df, id, text)
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))

  def tfidfTopTerms(df: DataFrame, id: String, text: String,
                    k: Int): DataFrame = {
    val tf = termFrequencies(df, id, text)
      .localCheckpoint(eager = true)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = df.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(lit(1.0) * col("n_docs") / col("df")), 4))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id")
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id").as(id), col("term"), col("tfidf"), col("rank"))
  }

  /** Per-group distinctive terms: the log-odds ratio with an
    * informative Dirichlet prior (Monroe/Colaresi/Quinn 2008,
    * "Fightin' Words") of each term in each group (source, language,
    * snapshot…) against the REST of the corpus, z-scored — the
    * corpus-comparison report a curation stack reads to see what a
    * source actually contributes ("what is distinctive about domain
    * X"), where raw TF-IDF surfaces rare typos and plain frequency
    * surfaces stopwords. The prior α_w = α0·c_w/n shrinks rare-term
    * odds toward the corpus rate, so a term must be both frequent
    * and skewed to rank.
    *
    * δ_gw = ln((c_gw + α_w)/(n_g + α0 − c_gw − α_w))
    *      − ln((c_rw + α_w)/(n_r + α0 − c_rw − α_w)),   r = rest
    * z = δ / √(1/(c_gw + α_w) + 1/(c_rw + α_w)); top-k per group by z.
    *
    * Scale shape: ONE vocabulary-sized stream — the (group, term)
    * counts, partial-aggregated map-side, eager-checkpointed once
    * (three consumers: term totals, group totals, the scored join —
    * the multi-consumer rule); group totals and the grand total are
    * group-cardinality-sized broadcasts; the rank window partitions
    * by group over rows already collapsed to (group, term).
    *
    * Cross-engine: counts are exact integers; the z chain passes
    * through ln, so ranking and output use the 6 dp floor-snap with a
    * term tiebreak, and degenerate odds (a group or rest consisting
    * ENTIRELY of one term makes a denominator 0) are guarded to null
    * BEFORE the snap (the NaN/floor rule) — null sorts last under
    * desc in both engines.
    */
  def distinctiveTerms(df: DataFrame, text: String, group: String,
                       topK: Int = 5, alpha0: Double = 500.0): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    require(alpha0 > 0, "alpha0 must be > 0")
    val terms = df
      .select(col(group).as("grp"),
        explode(split(lower(col(text)), "[ \\t\\n\\f\\r]+")).as("term"))
      .filter(length(col("term")) > 0)
    val cgw = terms.groupBy("grp", "term").agg(count(lit(1)).as("c_gw"))
      .localCheckpoint(eager = true)
    val cw = cgw.groupBy("term").agg(sum("c_gw").as("c_w"))
    val ng = cgw.groupBy("grp").agg(sum("c_gw").as("n_g"))
    val n = cgw.agg(sum("c_gw").as("n"))
    val aw = lit(alpha0) * col("c_w") / col("n")
    val cr = col("c_w") - col("c_gw")
    val nr = col("n") - col("n_g")
    val d1 = col("n_g") + lit(alpha0) - col("c_gw") - aw
    val d2 = nr + lit(alpha0) - cr - aw
    val delta = log((col("c_gw") + aw) / d1) - log((cr + aw) / d2)
    val z = delta / sqrt(lit(1.0) / (col("c_gw") + aw) +
      lit(1.0) / (cr + aw))
    val scored = cgw.join(cw, Seq("term"))
      .join(broadcast(ng), Seq("grp"))
      .crossJoin(broadcast(n))
      .select(col("grp"), col("term"), col("c_gw"),
        graft.functions.Rounding.reprRound6(
          when(d1 > 0 && d2 > 0, z)).as("z"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("grp")
      .orderBy(col("z").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("grp").as(group), col("term"), col("c_gw"), col("z"),
        col("rank"))
  }

  /** BM25 relevance of every document against a bag of `queryTerms`
    * (Robertson/Spärck Jones; the Lucene idf variant, which is always
    * positive): score = Σ_t ln(1 + (N − df_t + 0.5)/(df_t + 0.5)) ·
    * tf_t·(k1+1) / (tf_t + k1·(1 − b + b·dl/avgdl)). The retrieval
    * scorer a curation pipeline uses to pull topic-relevant subsets
    * out of a crawl (seeded corpus expansion), one step up from raw
    * TF-IDF because long documents stop winning on term count alone.
    *
    * Scale shape — the query is SHORT, so nothing vocabulary-sized
    * ever materializes: ONE pass over the token stream aggregates
    * per-doc (dl, tf per query term) as `sum(when(term = t))` columns
    * — map-side partial agg, single narrow shuffle, no vocabulary
    * explosion (contrast [[tfidfTopTerms]], which must checkpoint the
    * full (doc, term, tf) stream because every term is in play); the
    * corpus stats (N, avgdl, df per term) are a second aggregation of
    * that docs-sized frame into ONE broadcast row. Only matched
    * documents survive the final filter. The per-doc frame feeds TWO
    * consumers (the totals aggregate + the scored join), and exchange
    * reuse does NOT fire across them (the totals branch re-plans the
    * aggregation), so it is eager-checkpointed per the multi-consumer
    * rule — measured at sf10: shuffle 178→96 MB, wall 3.4→2.9 s.
    *
    * N and avgdl count documents with at least one token (null/empty
    * texts never enter the token stream — the SQL oracle replays this
    * exactly). Cross-engine: ln is not correctly rounded, so the
    * score is repr-rounded to 6 dp ([[graft.functions.Rounding]]'s
    * floor-snap, IEEE-exact in both engines); dl, tf, df, N are exact
    * integers and avgdl is an exact integer ratio, so the rounded
    * scores agree.
    */
  def bm25Scores(df: DataFrame, id: String, text: String,
                 queryTerms: Seq[String], k1: Double = 1.2,
                 b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Scores: queryTerms must be non-empty")
    require(k1 > 0 && b >= 0 && b <= 1, s"bm25Scores: bad k1=$k1 b=$b")
    val terms = queryTerms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    val perDoc = termStream(df, id, text)
      .groupBy("id")
      .agg(count(lit(1)).as("dl"),
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(col("term") === lit(t), 1L).otherwise(0L)).as(s"__tf$i")
        }: _*)
      .localCheckpoint(eager = true)
    val totalCols = count(lit(1)).as("n_docs") +: avg(col("dl")).as("avgdl") +:
      terms.indices.map(i =>
        sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i"))
    val totals = perDoc.agg(totalCols.head, totalCols.tail: _*)
    val scored = perDoc.crossJoin(broadcast(totals))
    val termScore = terms.indices.map { i =>
      val tf = col(s"__tf$i").cast("double")
      val dfT = col(s"__df$i").cast("double")
      val idf = log(lit(1.0) +
        (col("n_docs") - dfT + lit(0.5)) / (dfT + lit(0.5)))
      idf * tf * lit(k1 + 1.0) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    val nMatched = terms.indices
      .map(i => when(col(s"__tf$i") > 0, 1L).otherwise(0L))
      .reduce(_ + _)
    scored
      .withColumn("n_matched", nMatched)
      .filter(col("n_matched") > 0)
      .select(col("id").as(id), col("dl").as("n_tokens"),
        col("n_matched"),
        graft.functions.Rounding.reprRound6(termScore).as("bm25"))
  }

  // --------------------------------------------------------------------
  // Character-distribution entropy (gibberish / encoding-junk signal)
  // --------------------------------------------------------------------

  /** Alphabet for [[charEntropy]]: a-z, 0-9, space. Characters outside
    * it fold into one "other" bucket, so binary junk shows up as a
    * single high-mass symbol (low entropy) rather than vanishing. */
  val EntropyAlphabet: Seq[String] =
    (('a' to 'z') ++ ('0' to '9')).map(_.toString) :+ " "

  /** Shannon entropy (nats) of each document's character distribution
    * over [[EntropyAlphabet]] + an "other" bucket — the classic cheap
    * gibberish detector: natural text sits in a band (~2.4-2.9 for
    * English); runs of one symbol, base64 blobs, and encoding damage
    * fall outside it.
    *
    * Scale shape: per-character counts are `length(s) − length(replace
    * (s, ch))` folds over the FIXED 37-symbol alphabet — 37 codegen'd
    * string passes inside the scan, zero shuffle at any corpus size
    * (the explode-and-count alternative shuffles one row per corpus
    * CHARACTER — a corpus-sized exchange for a per-doc scalar).
    * `replace`/`length`/`ln` are engine-portable, so a SQL oracle
    * replays the entropy bit-for-bit (score rounded to 4 dp).
    */
  def charEntropy(df: DataFrame, id: String, text: String): DataFrame = {
    val t = lower(col(text))
    val counts = EntropyAlphabet.map(ch =>
      (length(t) - length(replace(t, lit(ch)))).cast(DoubleType))
    val known = counts.reduce(_ + _)
    val other = (length(t).cast(DoubleType) - known)
    val n = length(t).cast(DoubleType)
    // UNROLLED static fold (round 14): the array + `aggregate` HOF
    // evaluated interpreted (38 lambda frames + boxing per document,
    // the q138 plan-time-constant-length rule); foldLeft replays the
    // HOF's exact left-to-right IEEE accumulation order, so the
    // entropy is bit-identical and the SQL oracle still matches
    val entropy = (counts :+ other).foldLeft(lit(0.0))((acc, c) =>
      acc - when(c > 0, c / n * log(c / n)).otherwise(0.0))
    // NULL text stays NULL (a missing doc is not a single-symbol run —
    // 0.0 is the exact low-entropy band the gibberish gate flags);
    // genuinely empty strings keep entropy 0.0.
    df.select(col(id), length(col(text)).as("n_chars"),
      when(col(text).isNull, lit(null).cast(DoubleType))
        .when(n > 0, round(entropy, 4))
        .otherwise(lit(0.0)).as("char_entropy"))
  }

  // --------------------------------------------------------------------
  // Unigram-LM surprisal (statistical quality score)
  // --------------------------------------------------------------------

  /** Mean unigram surprisal per document: −avg ln p̂(term), with
    * add-one-smoothed corpus probabilities p̂(t) = (count(t)+1) /
    * (total+V). The cheap statistical language-model quality score:
    * template spam scores low (its tokens dominate the corpus), OCR
    * noise and gibberish score high, natural prose sits in the middle —
    * the third leg next to the heuristic [[qualityScore]] and
    * [[charEntropy]].
    *
    * Scale shape: the explode collapses immediately into the
    * per-(doc, term) frequency table, and THAT aggregated stream — one
    * row per distinct term per doc, not one per token occurrence — is
    * what gets checkpointed, joined, and scored (the candidate-stream
    * discipline, SCALE.md: attach work to the aggregated stream, never
    * ride the raw one). Corpus term counts are a second aggregation of
    * the same stream; totals ride in as a broadcast one-row aggregate;
    * surprisal is the tf-weighted mean, identical to averaging over
    * occurrences.
    */
  def unigramSurprisal(df: DataFrame, id: String, text: String): DataFrame = {
    // terms ride as 64-bit xxhash64 keys (round 14, the q107 rule):
    // internal count/join keys only — the oracle replays the strings
    val tf = termStream(df, id, text)
      .select(col("id"), xxhash64(col("term")).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = true)
    val tc = tf.groupBy("term").agg(sum(col("tf")).as("tc"))
    val totals = tc.agg(sum(col("tc")).as("total"), count(lit(1)).as("v"))
    tf.join(tc, Seq("term"))
      .crossJoin(broadcast(totals))
      .groupBy(col("id").as(id))
      .agg(sum(col("tf")).as("n_tokens"),
        // 0.0 - x, not -x: unary negation of a +0.0 sum yields -0.0,
        // whose repr differs across engines (same fix as charEntropy)
        round(lit(0.0) -
            sum(col("tf") * log((col("tc") + 1.0) / (col("total") + col("v"))))
            / sum(col("tf")), 4)
          .as("surprisal"))
  }

  /** Context-window chunking: each document splits into overlapping
    * windows of at most `maxTokens` whitespace tokens (stride =
    * maxTokens − overlap) — how long documents are prepared for a
    * fixed-context model without discarding their tails, with `overlap`
    * tokens of continuity across the cut. Chunk text is the token span
    * re-joined with single spaces (tokenization is whitespace-class, so
    * intra-token bytes are preserved; inter-token whitespace is
    * normalized — the property the downstream tokenizer sees anyway).
    * Start positions stop at n − overlap, so a final window is emitted
    * only when it contributes tokens no earlier window carried; a doc
    * of ≤ maxTokens tokens is one chunk; zero-token docs emit nothing.
    *
    * Scale shape: pure map-side — the token array, window starts, and
    * chunk reassembly are array expressions inside the scan, and the
    * output explode is one row per CHUNK. No shuffle at any corpus
    * size; at 100 TB this runs at scan speed.
    */
  def chunkByTokens(df: DataFrame, id: String, text: String,
                    maxTokens: Int, overlap: Int = 0): DataFrame = {
    require(maxTokens >= 1, "maxTokens must be >= 1")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap ($overlap) must be in [0, maxTokens)")
    val stride = maxTokens - overlap
    // NO lower(): unlike the counting/scoring ops, chunking EMITS the
    // text — case-folding here would corrupt every chunk the pipeline
    // produces (whitespace splitting needs no normalization)
    val toks = filter(split(col(text), "[ \\t\\n\\f\\r]+"),
      t => length(t) > 0)
    df.filter(col(text).isNotNull)
      .select(col(id).as("id"), toks.as("ts"))
      .filter(size(col("ts")) >= 1)
      .select(col("id"), col("ts"),
        posexplode(transform(
          sequence(lit(0),
            greatest(((size(col("ts")) - lit(overlap) - 1) / lit(stride))
              .cast("int"), lit(0))),
          i => i * stride + 1)))
      .select(col("id").as(id), (col("pos") + 1).as("chunk_idx"),
        least(lit(maxTokens), size(col("ts")) - col("col") + 1)
          .as("n_tokens"),
        concat_ws(" ", slice(col("ts"), col("col"), lit(maxTokens)))
          .as("chunk_text"))
  }

  /** Cross-corpus surprisal (the CCNet-style perplexity filter): each
    * TARGET document scored under the unigram model of a separate
    * REFERENCE corpus — score docs against clean text (Wikipedia-class)
    * instead of against the corpus being cleaned, so boilerplate that
    * dominates the target cannot make itself look normal (the
    * self-scored [[unigramSurprisal]] blind spot). Model:
    * p̂(t) = (count_ref(t)+1) / (total_ref + V_ref), with V_ref the
    * reference vocabulary; target-only terms fall to the OOV floor
    * 1/(total_ref + V_ref) and raise the score — exactly what a
    * quality gate wants from out-of-domain gibberish.
    *
    * Scale shape: the reference collapses to its vocabulary-sized count
    * table once; the target's aggregated (doc, term) stream LEFT-joins
    * it (null count → 0, the OOV floor) with totals broadcast — both
    * corpora are scanned once and only vocabulary/aggregated streams
    * shuffle, so a small clean reference scores a 100 TB target.
    */
  def crossCorpusSurprisal(target: DataFrame, reference: DataFrame,
                           id: String, text: String): DataFrame = {
    // terms ride as 64-bit xxhash64 keys (round 14, the q107 rule):
    // they only MERGE count/join keys — the oracle replays the strings
    // — so the corpus-scale (doc, term) stream aggregates and joins on
    // 8-byte longs instead of term strings
    val th = (c: Column) => xxhash64(c).as("term")
    val tf = termStream(target, id, text)
      .select(col("id"), th(col("term")))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val rc = termStream(reference, id, text)
      .groupBy(th(col("term"))).agg(count(lit(1)).as("rc"))
      .localCheckpoint(eager = true) // feeds the join + the totals
    val totals = rc.agg(sum(col("rc")).as("total"), count(lit(1)).as("v"))
    tf.join(rc, Seq("term"), "left_outer")
      .crossJoin(broadcast(totals))
      .groupBy(col("id").as(id))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(when(col("rc").isNull, col("tf")).otherwise(0L)).as("n_oov"),
        // 0.0 - x: the unary-minus −0.0 repr trap (q97 convention)
        round(lit(0.0) -
            sum(col("tf") * log((coalesce(col("rc"), lit(0L)) + 1.0)
              / (col("total") + col("v"))))
            / sum(col("tf")), 4)
          .as("ref_surprisal"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): each POOL
    * document's per-token log-ratio of an n-gram LM of the TARGET
    * domain over an LM of the REFERENCE (raw-pool) distribution,
    * log w(x) = Σ_t tf_t·[ln p̂_tgt(t) − ln p̂_ref(t)], both add-one
    * smoothed like [[crossCorpusSurprisal]] (of which this is the
    * two-model composition: ref_surprisal(reference) −
    * ref_surprisal(target), in ONE plan so the pool's term table
    * aggregates once, not twice). Two scores per doc:
    *  - `log_weight` — the raw sum, THE paper's importance weight in
    *    log form; what ∝-exp resampling ([[Sampling.gumbelTopK]])
    *    draws on. Length-sensitive: a long on-target doc outweighs a
    *    short one, as the product-of-features model dictates.
    *  - `log_ratio` — the per-token average (log_weight / n_tokens),
    *    the length-independent domain-affinity score a filter gate
    *    thresholds on. Positive → target-like.
    *
    * Scale shape: both corpora collapse to vocabulary-sized count
    * tables (checkpointed once); the pool's aggregated (doc, term)
    * stream LEFT-joins them with the two one-row totals broadcast —
    * a 100 TB pool scores against wiki-sized target/reference sets
    * with nothing per-token-occurrence ever shuffling.
    */
  def importanceWeights(pool: DataFrame, target: DataFrame,
                        reference: DataFrame,
                        id: String, text: String): DataFrame = {
    // terms ride as 64-bit xxhash64 keys (round 14, the q107 rule):
    // they only MERGE count/join keys — the oracle replays the strings
    // — so the corpus-scale (doc, term) stream aggregates and joins on
    // 8-byte longs instead of term strings
    val th = (c: Column) => xxhash64(c).as("term")
    val tf = termStream(pool, id, text)
      .select(col("id"), th(col("term")))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val tc = termStream(target, id, text)
      .groupBy(th(col("term"))).agg(count(lit(1)).as("tc"))
      .localCheckpoint(eager = true) // feeds the join + its totals
    val rc = termStream(reference, id, text)
      .groupBy(th(col("term"))).agg(count(lit(1)).as("rc"))
      .localCheckpoint(eager = true)
    val tTot = tc.agg(sum(col("tc")).as("tt"), count(lit(1)).as("tv"))
    val rTot = rc.agg(sum(col("rc")).as("rt"), count(lit(1)).as("rv"))
    tf.join(tc, Seq("term"), "left_outer")
      .join(rc, Seq("term"), "left_outer")
      .crossJoin(broadcast(tTot))
      .crossJoin(broadcast(rTot))
      .groupBy(col("id").as(id))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(when(col("tc").isNull, col("tf")).otherwise(0L))
          .as("n_oov_target"),
        // 0.0 + x: the −0.0 repr trap (q97 convention); ranking
        // consumers must rank on THESE rounded values (ln is not
        // correctly rounded cross-engine)
        (lit(0.0) + round(
          sum(col("tf") *
            (log((coalesce(col("tc"), lit(0L)) + 1.0)
                / (col("tt") + col("tv")))
              - log((coalesce(col("rc"), lit(0L)) + 1.0)
                / (col("rt") + col("rv"))))), 4)).as("log_weight"),
        (lit(0.0) + round(
          sum(col("tf") *
            (log((coalesce(col("tc"), lit(0L)) + 1.0)
                / (col("tt") + col("tv")))
              - log((coalesce(col("rc"), lit(0L)) + 1.0)
                / (col("rt") + col("rv")))))
            / sum(col("tf")), 4)).as("log_ratio"))
  }

  /** Mean bigram surprisal per document: −avg ln p̂(w₂|w₁) with
    * add-one-smoothed conditional probabilities p̂(w₂|w₁) =
    * (count(w₁w₂)+1) / (count(w₁)+V) — the order-sensitive companion to
    * [[unigramSurprisal]]: template spam that merely REUSES common
    * words in unnatural sequences scores high here while sailing past
    * the unigram gate, and word-salad gibberish is separated from prose
    * built of the same vocabulary. Documents with fewer than two tokens
    * have no bigrams and are excluded (the q97 zero-token convention).
    *
    * Scale shape: the bigram explode (native [[graft.functions.Strings
    * .wordNgrams]] — a lambda over a computed token array re-splits
    * the text once PER GRAM, the q127/q131 trap) collapses immediately
    * into the per-(doc, bigram) frequency table, and from round 13
    * that stream carries 64-bit key hashes (xxhash64 since round 14;
    * 60-bit md5-hex before), never strings — at sf100 the
    * string-keyed stream checkpointed ~10 GB and re-read it
    * through TWO corpus-scale joins (16.8× sf10→sf100, measured). The
    * bigram-count and context-count tables fold into ONE
    * vocabulary-scale side table (bgh → cb, cu, V) so the big stream
    * is joined exactly once, on an 8-byte key; V rides in as a
    * broadcast one-row aggregate. Same candidate-stream discipline as
    * [[unigramSurprisal]] (SCALE.md): nothing per-token-occurrence
    * ever shuffles. The hashes only MERGE join keys, so the oracle
    * replays the STRINGS and still matches (a collision would need
    * two distinct bigrams sharing a 64-bit digest corpus-wide).
    */
  def bigramSurprisal(df: DataFrame, id: String, text: String): DataFrame = {
    // 64-bit xxhash64 keys (round 14; was a 60-bit md5-hex chain): the
    // hashes only MERGE join keys — the oracle replays the strings —
    // and the md5 form paid a hex alloc + base-16 parse per bigram
    // OCCURRENCE, twice (w1h + bgh): pure map-side CPU at 100 TB
    val h60 = (c: Column) => xxhash64(c)
    val bigrams = df.filter(col(text).isNotNull)
      .select(col(id).as("id"),
        explode(graft.functions.Strings.wordNgrams(lower(col(text)), 2,
          wholeTextFallback = false)).as("bg"))
      // w1 is the gram's first token by construction; hash BOTH keys
      // before anything shuffles
      .select(col("id"), h60(substring_index(col("bg"), " ", 1)).as("w1h"),
        h60(col("bg")).as("bgh"))
    // one row per (doc, distinct bigram): id + two 8-byte keys + count.
    // w1h rides along (it is bgh-determined) so the side table below
    // needs no second pass over the explode.
    val tf = bigrams.groupBy("id", "bgh")
      .agg(count(lit(1)).as("tf"), min(col("w1h")).as("w1h"))
      .localCheckpoint(eager = true) // feeds the side table + the join
    val cu = termStream(df, id, text)
      .groupBy(h60(col("term")).as("w1h")).agg(count(lit(1)).as("cu"))
      .localCheckpoint(eager = true) // feeds V + the side table
    val totals = cu.agg(count(lit(1)).as("v"))
    // ONE vocabulary-scale side table: bgh -> (cb, cu, v). Only this
    // narrow frame joins the corpus-scale tf stream.
    val side = tf.groupBy("bgh")
      .agg(sum(col("tf")).as("cb"), min(col("w1h")).as("__w1h"))
      .join(cu, col("__w1h") === col("w1h"))
      .crossJoin(broadcast(totals))
      .select(col("bgh"), col("cb"), col("cu"), col("v"))
    tf.join(side, Seq("bgh"))
      .groupBy(col("id").as(id))
      .agg(sum(col("tf")).as("n_bigrams"),
        // 0.0 - x: the unary-minus −0.0 repr trap (q97 convention)
        round(lit(0.0) -
            sum(col("tf") * log((col("cb") + 1.0) / (col("cu") + col("v"))))
            / sum(col("tf")), 4)
          .as("bigram_surprisal"))
  }

  // --------------------------------------------------------------------
  // Document fingerprinting (rolling hash)
  // --------------------------------------------------------------------

  private val FpMod = 2147483647L // 2^31 - 1
  private val FpBase = 1000003L

  /** Order-sensitive polynomial rolling hash over whitespace tokens:
    * h = Σ tok_i · B^(n−i) mod 2³¹−1, folded left with `aggregate` —
    * same-token-multiset docs with different order get different
    * fingerprints (unlike a set hash). Map-side only, no shuffle.
    *
    * The per-token hash is the first 8 hex digits of md5 (not
    * xxhash64): md5 is bit-identical across engines, so an external
    * SQL oracle can replay the fingerprint exactly.
    */
  def fingerprint(df: DataFrame, id: String, text: String): DataFrame = {
    val toks = filter(split(lower(col(text)), "[ \\t\\n\\f\\r]+"), t => length(t) > 0)
    val tokHash = (t: Column) =>
      pmod(graft.functions.Strings.md5SliceLong(t, 1, 8), lit(FpMod))
    val fp = aggregate(
      toks,
      lit(0L),
      (acc, t) => pmod(acc * FpBase + tokHash(t), lit(FpMod)))
    df.select(col(id), fp.as("fingerprint"))
  }

  /** Winnowing-style k-gram min-sketch: the minimum rolling-hash value
    * over each document's k-gram shingles — robust to local edits, used
    * as a cheap near-dup blocking key. */
  def minShingleFingerprint(df: DataFrame, id: String, text: String,
                            k: Int = 5): DataFrame =
    Dedup.shinglesDF(df, id, text, k)
      .groupBy(col("id").as(id))
      .agg(min(pmod(xxhash64(col("shingle")), lit(FpMod))).as("min_fingerprint"))

  // --------------------------------------------------------------------
  // HTML → text extraction (the step BEFORE every text op on a crawl)
  // --------------------------------------------------------------------

  /** Named entities [[htmlToText]] decodes, in decode ORDER: every
    * other entity strictly before `&amp;` — HTML escapes the escape
    * character, so `&amp;lt;` means the four characters "&lt;", and
    * decoding `&amp;` first would wrongly double-decode it to "<".
    * Deliberately a small fixed subset (the five XML entities + nbsp);
    * numeric character references pass through untouched — documented
    * contract, not an oversight (a full HTML5 entity table is a
    * dictionary lookup, not a pipeline-shaping concern). */
  val HtmlEntities: Seq[(String, String)] = Seq(
    "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&#39;" -> "'", "&apos;" -> "'",
    "&amp;" -> "&")

  /** Plain text extracted from raw HTML: drop comments and whole
    * `<script>`/`<style>` elements (their CONTENT is code, not prose —
    * a tag-only strip would leak JavaScript into the corpus), strip
    * remaining tags to a space, decode [[HtmlEntities]], collapse
    * whitespace runs, trim. The extraction step every crawl-derived
    * corpus runs before tokenizing/shingling anything; a regex-layer
    * extractor by design (malformed-HTML recovery à la html5lib is a
    * parser, not an expression) — unterminated script/style/comment
    * blocks keep their raw tail, which downstream quality gates
    * (entropy q96, boilerplate q68) are built to catch.
    *
    * Output: `id`, `clean_text`, `n_chars_clean`. NULL html stays NULL
    * (a missing payload is not an empty page).
    *
    * Scale shape: a fixed chain of codegen'd `regexp_replace`/`replace`
    * passes inside the scan — per-row string work, zero shuffle at any
    * corpus size, exactly like [[cleanText]]. Patterns use RE2-safe
    * constructs only (inline `(?is)` flags, non-greedy spans, no
    * backrefs), so a SQL oracle replays the extraction verbatim.
    */
  def htmlToText(df: DataFrame, id: String, html: String,
                 keepCols: String*): DataFrame = {
    val noComments =
      regexp_replace(col(html), "(?s)<!--.*?-->", " ")
    val noScript =
      regexp_replace(noComments, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle =
      regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
    val decoded = HtmlEntities.foldLeft(noTags) {
      case (c, (ent, ch)) => replace(c, lit(ent), lit(ch))
    }
    val collapsed =
      trim(regexp_replace(decoded, "[ \\t\\n\\f\\r]+", " "))
    // keepCols pass through the SAME projection — a caller wanting
    // metadata next to the clean text must not have to self-join the
    // extraction output back to its input (a corpus-sized shuffle for
    // what is one map-side select; q149's shape).
    df.select((col(id) +: keepCols.map(col)) ++ Seq(
      collapsed.as("clean_text"),
      length(collapsed).cast("long").as("n_chars_clean")): _*)
  }
}
