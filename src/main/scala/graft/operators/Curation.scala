package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Staging
import graft.operators.TextAnalysis.{md5Mod, pround4, wordCount, words, wsToks}

/**
 * Training-data curation operators beyond the reference's surface (builder
 * brief: "the operations a large-scale training-data pipeline would need"):
 * repetition-based quality signals (Gopher-style), PII masking,
 * deterministic stratified sampling, token-window chunking, and benchmark
 * contamination detection.
 *
 * Scale design: everything is a scan-local expression or a single bounded
 * shuffle; the only joins are against bounded sides (the benchmark shingle
 * set); randomness is replaced by content hashes so sampling is
 * deterministic, engine-portable, and resume-stable.
 */
object Curation {

  /** Non-distinct word n-gram rows (id, gram) — the counting variant of
    * [[Dedup.shingles]] (which de-dups per doc). Same lambda-binding rule:
    * the token array MUST be bound once (interpreted HOFs do no CSE). */
  def gramRows(docs: DataFrame, idCol: String, textCol: String,
               n: Int): DataFrame =
    // native fused kernel (graft.functions.WordNgrams, distinct = false):
    // the former interpreted HOF chain ran CodegenFallback per row
    docs.select(col(idCol), explode(graft.functions.NgramExprs.gramTokens(
      words(col(textCol)), n)).as("gram"))

  /**
   * Gopher-style duplicate-line fraction: 1 − distinct(lines)/lines over
   * non-blank lines; 0 for line-less docs. Pure scan-local expression.
   */
  def dupLineFraction(text: Column): Column = {
    val lines = filter(split(text, "\\n"), l => trim(l) =!= "")
    when(size(lines) === 0, 0.0).otherwise(
      pround4(lit(1.0) -
        size(array_distinct(lines)).cast("double") / size(lines)))
  }

  /**
   * Gopher-style top-bigram fraction per doc: occurrences of the most
   * frequent word bigram / total bigrams. One partial-agg shuffle on
   * (id, gram), then an id-local roll-up. Docs with <2 tokens are absent
   * (callers left-join + coalesce 0).
   */
  def topBigramFraction(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    gramRows(docs, idCol, textCol, n = 2)
      .groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(pround4(max(col("c")).cast("double") / sum(col("c")))
        .as("top_bigram_frac"))

  /**
   * The FULL Gopher repetition table (Rae et al. 2021 §A1.1): per doc
   * and per n, the fraction of n-gram occurrences inside the single most
   * frequent n-gram (`top{n}_frac`) and inside any duplicated n-gram
   * (`dup{n}_frac`) — the paper's top-2/3/4-gram and dup-n-gram gates in
   * one operator. The paper's dup gates run n up to 10; on this corpus
   * n ≥ 5 duplicate mass is identically zero (probed), so the default
   * `ns` stops at 4 — pass a wider list for natural-text corpora.
   *
   * Plan: ONE tokenize pass builds every n's gram list tagged with n
   * (array-local flatten — no per-n rescan), ONE partial-agg shuffle on
   * (id, n, gram), an (id, n) roll-up, and an id-keyed pivot to columns.
   * Docs shorter than n tokens have no (id, n) row → 0.0 after the
   * pivot's coalesce.
   */
  def repetitionSuite(docs: DataFrame, idCol: String, textCol: String,
                      ns: Seq[Int] = Seq(2, 3, 4)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 2), "ns must be >= 2")
    // native one-pass tagged gram kernel (graft.functions.WordNgramsTagged)
    // — the former per-n interpreted transforms under a flatten were
    // CodegenFallback per row
    val all = graft.functions.NgramExprs.gramsTagged(words(col(textCol)), ns)
    val counts = docs
      .select(col(idCol), explode(all).as("g"))
      .groupBy(col(idCol), col("g.n").as("n"), col("g.gram").as("gram"))
      .agg(count(lit(1)).as("c"))
    val perN = counts.groupBy(col(idCol), col("n"))
      .agg(pround4(max(col("c")).cast("double") / sum(col("c"))).as("topf"),
        pround4(sum(when(col("c") >= 2, col("c")).otherwise(0L))
          .cast("double") / sum(col("c"))).as("dupf"))
    val pivots = ns.flatMap(n => Seq(
      coalesce(max(when(col("n") === n, col("topf"))), lit(0.0))
        .as(s"top${n}_frac"),
      coalesce(max(when(col("n") === n, col("dupf"))), lit(0.0))
        .as(s"dup${n}_frac")))
    perN.groupBy(col(idCol)).agg(pivots.head, pivots.tail: _*)
  }

  /** Repetition-quality signals for every doc (absent bigrams → 0). */
  def repetitionSignals(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    docs.select(col(idCol), dupLineFraction(col(textCol)).as("dup_line_frac"))
      .join(topBigramFraction(docs, idCol, textCol), Seq(idCol), "left")
      .select(col(idCol), col("dup_line_frac"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"))

  /** Email address pattern — identical semantics in Java regex and RE2. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** Phone-ish pattern: leading +?digit, ≥7 digits/space/dash, digit. */
  val PhoneRe = "\\+?\\d[\\d \\-]{7,}\\d"

  /**
   * PII masking: emails then phones (emails first — the phone pattern
   * would otherwise eat digit runs inside addresses). `regexp_replace` is
   * codegen'd and global in both engines.
   */
  def maskPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** Card-number candidate pattern: 13–19 digits allowing single space/
    * dash separators (digit-bounded). RE2-portable. */
  val CardRe = "[0-9][0-9 \\-]{11,21}[0-9]"

  /**
   * Payment-card PII detection with LUHN validation — the PII class a
   * regex alone cannot decide: a 16-digit run is only a card number if
   * its mod-10 check digit verifies (ISO/IEC 7812), so the detector
   * extracts digit-run candidates and validates each with the Luhn sum
   * computed ARRAY-LOCALLY (fold over the reversed digit string: double
   * every second digit, subtract 9 above 9, sum % 10 == 0). Zero
   * shuffles — pure per-row expressions; candidates whose digit count
   * falls outside 13–19 are dropped before validation.
   * Output: (id, candidate, luhn_valid) — one row per candidate, docs
   * without candidates absent. Masking composition: replace validated
   * candidates via [[maskValidCards]].
   */
  def luhnCandidates(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val digits = regexp_replace(col("cand"), "[^0-9]", "")
    docs.select(col(idCol),
        explode(regexp_extract_all(col(textCol), lit(CardRe), lit(0)))
          .as("cand"))
      .withColumn("_ds", digits)
      .filter(length(col("_ds")).between(13, 19))
      .withColumn("luhn_valid", luhnOk(col("_ds")))
      .select(col(idCol), col("cand"), col("luhn_valid"))
  }

  /** Luhn mod-10 validity of a digit string (array-local fold). */
  def luhnOk(digitStr: Column): Column = {
    val rev = reverse(digitStr)
    val s = aggregate(sequence(lit(1), length(rev)), lit(0L),
      (acc, i) => {
        val d = rev.substr(i, lit(1)).cast("long")
        acc + when(i % 2 === 0,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      })
    s % 10 === 0
  }

  /** Mask every Luhn-VALID card candidate in `text` with `<CARD>`:
    * candidates extracted per row, invalid ones kept verbatim (a random
    * 16-digit id is not PII), valid ones replaced via an array-local
    * regexp_replace fold. Replacement is POSITIONALLY anchored with
    * digit-boundary lookarounds `(?<![0-9])cand(?![0-9])` so a valid
    * candidate's digit sequence embedded inside a LONGER non-candidate
    * run elsewhere in the document is never masked, and a candidate that
    * is a substring of another (disjoint regexp_extract_all spans, but
    * literal replace() was span-blind) cannot double-apply. Candidates
    * are `[0-9 -]` only (CardRe), so interpolating them into the pattern
    * needs no regex escaping; `array_distinct` drops redundant fold
    * passes for repeated candidates. Lookaround is Java-regex (this
    * expression is spec-pinned, not DuckDB-oracle-paired — the oracle'd
    * detector is [[luhnCandidates]]). */
  def maskValidCards(text: Column): Column = {
    val cands = array_distinct(
      filter(regexp_extract_all(text, lit(CardRe), lit(0)),
        c => length(regexp_replace(c, "[^0-9]", "")).between(13, 19) &&
          luhnOk(regexp_replace(c, "[^0-9]", ""))))
    aggregate(cands, text, (acc, c) =>
      regexp_replace(acc,
        concat(lit("(?<![0-9])"), c, lit("(?![0-9])")), lit("<CARD>")))
  }

  /**
   * Deterministic stratified sampling: keep a row iff
   * hash(stratum|id) mod 100 < rate(stratum). The hash is the same
   * md5-prefix→bigint construction as MinHash ([[Dedup.baseHashOfDigest]]) so
   * the sample is reproducible across engines, partitionings, and re-runs —
   * no `rand()`, which would break resume idempotence and oracle checks.
   *
   * NULL stratum → row DROPPED, matching SQL `stratum || '|' || id` key
   * construction (NULL key → NULL comparison → filtered). The hash input
   * uses `concat` (null-propagating), NOT `concat_ws` (which silently
   * skips null args and would hash a null stratum as just the id —
   * engine/oracle divergence). Map nulls to a sentinel stratum upstream if
   * they should be sampled.
   */
  def stratifiedSampleFilter(stratum: Column, id: Column,
                             ratePct: Column): Column = {
    md5Mod(md5(concat(stratum, lit("|"), id.cast("string"))), 100L) < ratePct
  }

  /**
   * Token-window chunking for model-input preparation: fixed-size windows
   * of whitespace tokens with overlap, array-local (no shuffle, no window
   * function). Window starts step by chunkSize−overlap; the final window
   * shortens to the doc tail. Emits (id, chunk_idx, start_tok, chunk,
   * n_tokens); token-less docs are dropped.
   */
  def tokenChunks(docs: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap < chunkSize, "overlap must be < chunkSize")
    val ts = wsToks(col(textCol))
    // native fused kernel (graft.functions.TokenChunks): the former
    // transform(sequence(…), slice + concat_ws) chain under the array()
    // binding trick was CodegenFallback — one interpreted slice + lambda
    // frame per chunk; the kernel joins each window in one codegen pass
    val cs = graft.functions.NgramExprs.tokenChunks(ts, chunkSize, overlap)
    docs.filter(size(ts) > 0)
      .select(col(idCol), posexplode(cs))
      .select(col(idCol), (col("pos") + 1).cast("long").as("chunk_idx"),
        col("col.start_tok"), col("col.chunk"), col("col.n_tokens"))
  }

  /**
   * Benchmark-contamination detection: documents sharing any word n-gram
   * with a (small, broadcastable) benchmark set. The benchmark side is
   * bounded by construction — the join is a broadcast, never a shuffle of
   * the corpus; per-doc output aggregates with map-side combine.
   */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
                    benchDocs: DataFrame, n: Int = 8): DataFrame = {
    val sh = Dedup.shingles(docs, idCol, textCol, n)
    val bench = Dedup.shingles(benchDocs, idCol, textCol, n)
      .select(col("shingle"), col(idCol).as("bench_id"))
    sh.join(broadcast(bench), Seq("shingle"))
      .filter(col(idCol) =!= col("bench_id"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("shingle")).as("shared_grams"),
        countDistinct(col("bench_id")).as("bench_docs"))
  }

  /**
   * Gopher-style heuristic quality rules (Rae et al. 2021 §A1.1, public):
   * mean word length, symbol-to-word ratio (# and … occurrences per
   * token), and the fraction of words containing an alphabetic character —
   * with the paper's keep-bands as a boolean gate. Pure scan-local
   * expressions, zero shuffle; line-based rules (bullet/ellipsis line
   * fractions) live in [[dupLineFraction]]'s family and degenerate on the
   * newline-less synthetic corpus, so they are not emitted here.
   *
   * Returns ONE struct column (mean_word_len, symbol_ratio,
   * alpha_word_frac, gopher_keep): project it once and read fields from
   * the projected column — each signal tree then evaluates once per row.
   */
  def gopherStruct(text: Column): Column = {
    val ts = TextAnalysis.toks(text)
    val ntok = size(ts)
    // Σ|token| == |concat of tokens| (numChars is additive) — ArrayJoin is
    // codegen'd; the former aggregate() fold was CodegenFallback per row
    val meanLen = when(ntok === 0, 0.0).otherwise(pround4(
      length(array_join(ts, "")).cast("long")
        .cast("double") / ntok))
    // occurrence counts via regexp_count — equal by construction to the
    // former length-difference-after-replace (greedy leftmost
    // non-overlapping matches in both; "..." removes exactly 3 chars per
    // match) without allocating a replaced copy of the text per pattern
    val nSym = regexp_count(text, lit("#")) +
      regexp_count(text, lit("\\.\\.\\."))
    val symRatio = when(ntok === 0, 0.0)
      .otherwise(pround4(nSym.cast("double") / ntok))
    // tokens are maximal [a-z0-9_]+ runs of lower(text), so "token contains
    // a letter" == one greedy match of this pattern per such token —
    // regexp_count is codegen'd; the former filter(rlike) HOF was not
    val alphaFrac = when(ntok === 0, 0.0).otherwise(pround4(
      regexp_count(lower(text), lit("[0-9_]*[a-z][a-z0-9_]*"))
        .cast("double") / ntok))
    // with every signal codegen'd, whole-stage codegen's subexpression
    // elimination handles the shared trees — no lambda-binding needed
    struct(meanLen.as("mean_word_len"),
      symRatio.as("symbol_ratio"),
      alphaFrac.as("alpha_word_frac"),
      (meanLen >= 3.0 && meanLen <= 10.0 &&
        symRatio < 0.1 && alphaFrac > 0.8).as("gopher_keep"))
  }

  /**
   * Corpus-wide paragraph-level exact dedup — "paragraph" = fixed
   * non-overlapping token window ([[tokenChunks]] with overlap 0; the
   * synthetic corpus has no newlines, so the window IS the paragraph
   * boundary; with real webtext pass pre-split paragraphs through the same
   * hash path). A chunk survives iff it is the globally FIRST occurrence
   * of its content hash, ordered by (doc id, chunk idx) — the standard
   * C4/RefinedWeb repeated-passage rule.
   *
   * Plan: chunking is array-local (zero shuffle); first-occurrence is ONE
   * hash-shuffle window (row_number over md5(chunk), partitions are
   * duplicate-sets — tiny by nature); the per-doc roll-up is a second
   * shuffle on id with map-side combine. At 100 TB the md5 keyspace
   * spreads uniformly — no skew exposure; a pathological hot paragraph
   * ("lorem lorem…" boilerplate) still sorts only its own duplicates.
   */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     chunkTokens: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = tokenChunks(docs, idCol, textCol,
      chunkSize = chunkTokens, overlap = 0)
      .withColumn("h", md5(col("chunk")))
    val firstSeen = org.apache.spark.sql.functions.row_number().over(
      Window.partitionBy(col("h")).orderBy(col(idCol), col("chunk_idx")))
    chunks.withColumn("rk", firstSeen)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n_kept"))
      .withColumn("kept_frac",
        pround4(col("n_kept").cast("double") / col("n_chunks")))
  }

  /**
   * Quality-weighted deterministic sampling: keep a row iff
   * hash(id) mod 10000 < weight-in-basis-points. The usual composition is
   * weightBp = floor(quality·10⁴): a doc survives with probability equal
   * to its quality score. Same md5-prefix hash family as
   * [[stratifiedSampleFilter]] — engine-portable, partitioning-independent,
   * resume-stable; zero shuffle.
   */
  def weightedSampleFilter(id: Column, weightBp: Column): Column = {
    md5Mod(md5(concat(lit("w|"), id.cast("string"))), 10000L) < weightBp
  }

  /**
   * Corpus-wide n-gram document-frequency top-k (contamination / memorized-
   * boilerplate analysis primitive). Shingles are distinct-per-doc
   * ([[Dedup.shingles]]), so the count IS document frequency. ONE shuffle
   * (partial count → final count), then TakeOrderedAndProject — the top-k
   * never materializes a global sort. Total order (df desc, gram asc) so
   * the k-boundary is deterministic.
   */
  def ngramDocFreqTopK(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, k: Int): DataFrame =
    Dedup.shingles(docs, idCol, textCol, n)
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("shingle").asc)
      .limit(k)

  /**
   * Per-source corpus composition report: doc counts, token and char
   * totals, and a head/middle/tail size bucket (ntile 3 over total tokens).
   * The aggregate is ONE shuffle with map-side combine; the ntile window
   * runs over #sources rows (domain-count scale, ~10⁶ at 100 TB — a
   * single-partition sort of the AGGREGATED table, not the corpus).
   * Integer-only outputs: cross-engine exact.
   */
  def domainStats(docs: DataFrame, srcCol: String,
                  textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = docs
      .select(col(srcCol), wordCount(col(textCol)).as("ntok"),
        length(col(textCol)).cast("long").as("nchar"))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("total_tokens"),
        sum(col("nchar")).as("total_chars"))
    val w = Window.orderBy(col("total_tokens").desc, col(srcCol).asc)
    agg.withColumn("size_bucket",
      org.apache.spark.sql.functions.ntile(3).over(w).cast("long"))
  }

  /**
   * Training-sequence packing: concatenate documents in deterministic
   * (group, id) order and split the token stream into fixed-`capacity`
   * bins — the GPT-style "packed sequences" layout (documents straddle
   * bin boundaries; no padding waste). bin_idx/bin_offset derive from the
   * running token prefix-sum: bin_idx = prefix/capacity,
   * bin_offset = prefix mod capacity, where prefix = cumulative tokens
   * BEFORE this doc.
   *
   * Scale: ONE window per group partition (partitionBy group, orderBy id)
   * — per-group sorted prefix sums run in parallel across groups; there
   * is no global ordering and no single-partition window. Packing is
   * per-group by design (a training shard = a group); a global pack
   * would serialize the corpus through one sort.
   */
  def sequencePack(docs: DataFrame, idCol: String, textCol: String,
                   grpCol: String, capacity: Int): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    tokenPrefix(docs, idCol, textCol, grpCol)
      .select(col(grpCol), col(idCol), col("n_tokens"),
        // floor, not a double→long cast: Spark's cast truncates but
        // DuckDB's rounds — floor is the portable integer division
        floor(col("prefix") / capacity).cast("long").as("bin_idx"),
        (col("prefix") % capacity).as("bin_offset"))
  }

  /** (group, id, n_tokens, prefix): each doc's word count and the tokens
    * of its group's docs before it in id order — the ONE per-group
    * prefix-sum window of [[sequencePack]] and [[tokenBudgetFilter]]. */
  private def tokenPrefix(docs: DataFrame, idCol: String, textCol: String,
                          grpCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(grpCol)).orderBy(col(idCol))
    docs.select(col(grpCol), col(idCol), wordCount(col(textCol)).as("n_tokens"))
      .withColumn("prefix", sum(col("n_tokens")).over(w) - col("n_tokens"))
  }

  /**
   * Packed-bin MATERIALIZATION — the content half of [[sequencePack]]:
   * where sequencePack emits each doc's (bin_idx, bin_offset) ADDRESS,
   * this emits each bin's actual token stream — the bytes a trainer
   * reads. Documents straddle bin boundaries, so a doc contributes a
   * token SLICE to every bin its [prefix, prefix+n) interval intersects;
   * slices are computed array-locally (one `sequence` over the doc's bin
   * range — ≤ n/capacity+1 entries), then one (group, bin) aggregate
   * reassembles each bin in global token order. Every bin except each
   * group's last holds exactly `capacity` tokens (spec-asserted), and
   * concatenating a group's bins reproduces its concatenated docs.
   *
   * Scale: the same ONE per-group prefix window as sequencePack + one
   * (group, bin) shuffle that ships each token exactly once — the honest
   * cost of materialization (the address table never ships text; emit
   * this only for the shards actually exported). Per-bin state is
   * capacity-bounded by construction, so the assembling aggregate cannot
   * skew regardless of document or group size. Token-less docs are
   * absent (they contribute no tokens and shift no prefix).
   */
  def packBins(docs: DataFrame, idCol: String, textCol: String,
               grpCol: String, capacity: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(capacity > 0, "capacity must be positive")
    val w = Window.partitionBy(col(grpCol)).orderBy(col(idCol))
    val based = docs
      .select(col(grpCol), col(idCol), TextAnalysis.toks(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") > 0)
      .withColumn("prefix", sum(col("n")).over(w) - col("n"))
    val cap = lit(capacity.toLong)
    val segs = based.select(col(grpCol),
      explode(transform(
        sequence(floor(col("prefix") / capacity).cast("long"),
          floor((col("prefix") + col("n") - 1) / capacity).cast("long")),
        b => struct(
          b.as("bin_idx"),
          greatest(b * cap, col("prefix")).as("seg_start"),
          slice(col("toks"),
            (greatest(b * cap, col("prefix")) - col("prefix") + 1)
              .cast("int"),
            (least((b + 1) * cap, col("prefix") + col("n")) -
              greatest(b * cap, col("prefix"))).cast("int"))
            .as("seg")))).as("s"))
      .select(col(grpCol), col("s.bin_idx").as("bin_idx"),
        col("s.seg_start").as("seg_start"), col("s.seg").as("seg"))
    segs.groupBy(col(grpCol), col("bin_idx"))
      .agg(count(lit(1)).as("n_segments"),
        sum(size(col("seg"))).cast("long").as("n_tokens"),
        array_join(flatten(transform(
          array_sort(collect_list(struct(col("seg_start"), col("seg")))),
          x => x.getField("seg"))), " ").as("bin_text"))
  }

  /**
   * Log₂-bucketed document-length histogram: bucket = bit length of the
   * token count (floor(log₂ n)+1 via the binary-string length — integer-
   * exact, no floating log at power-of-two boundaries). One partial-agg
   * shuffle; output rows = O(log max-length).
   */
  def lengthHistogram(docs: DataFrame, textCol: String): DataFrame = {
    val ntok = wordCount(col(textCol))
    docs.select(length(bin(ntok)).cast("long").as("log2_bucket"), ntok.as("ntok"))
      .groupBy(col("log2_bucket"))
      .agg(count(lit(1)).as("n_docs"), min(col("ntok")).as("min_tokens"),
        max(col("ntok")).as("max_tokens"), sum(col("ntok")).as("total_tokens"))
  }

  /**
   * URL canonicalization for crawl-level dedup keys: lowercase scheme and
   * host, strip the fragment, strip tracking query parameters (utm_*,
   * fbclid, gclid — the '?' disappears with them when nothing survives),
   * drop default ports (:80/:443), and drop a trailing slash. Scan-local
   * codegen'd regexp chain; the result is the JOIN KEY for URL-level
   * dedup, so every rule here directly changes dedup recall.
   */
  def normalizeUrl(url: Column): Column = {
    // every pattern here is RE2-compatible (no lookaround, capture-group
    // reassembly instead) so the DuckDB oracle can mirror it verbatim
    val noFrag = regexp_replace(url, "#.*$", "")
    // lowercase scheme://host[:port] only (path/query stay case-sensitive)
    val lowered = concat(
      lower(regexp_extract(noFrag, "^([^/]*//[^/?#]*)", 1)),
      regexp_replace(noFrag, "^[^/]*//[^/?#]*", ""))
    val noPort = regexp_replace(lowered,
      "^(https?://[^/?#:]*):(?:80|443)([/?#]|$)", "$1$2")
    // split at the FIRST '?' and rewrite only the query component — a
    // literal '&' in the path must never trigger param surgery, and a
    // tracking param must never swallow path text
    val path = substring_index(noPort, "?", 1)
    val query = when(instr(noPort, "?") > 0,
      noPort.substr(instr(noPort, "?") + 1, length(noPort)))
      .otherwise("")
    val qClean = regexp_replace(
      regexp_replace(query, "(?:^|&)(?:utm_[^&=]*|fbclid|gclid)=[^&]*", ""),
      "^&+", "")
    // trailing slash drops from the PATH, so /p/?q=1 and /p?q=1 unify
    val pClean = regexp_replace(path, "([^/:])/$", "$1")
    when(qClean === "", pClean).otherwise(concat(pClean, lit("?"), qClean))
  }

  /**
   * Deterministic train/val/test split assignment: hash(id) mod 100 maps
   * into cumulative percent bands (e.g. 98/1/1). Same md5-prefix hash
   * family as [[stratifiedSampleFilter]] — the split is stable across
   * runs, partitionings, and engines, and independent of the sampling
   * hash (different salt), so sampling then splitting doesn't correlate.
   * Zero shuffle.
   */
  def splitAssign(id: Column, trainPct: Int = 98, valPct: Int = 1): Column = {
    require(trainPct + valPct < 100, "test band must be non-empty")
    val h = md5Mod(md5(concat(lit("split|"), id.cast("string"))), 100L)
    // null id → null split (caller filters), NOT the otherwise() branch —
    // a bare otherwise("test") would concentrate every malformed record
    // into the 1% eval band; matches the family's null-drops convention
    // (see stratifiedSampleFilter)
    when(id.isNull, lit(null).cast("string"))
      .when(h < trainPct, "train")
      .when(h < trainPct + valPct, "val")
      .otherwise("test")
  }

  /**
   * Corpus-trained unigram language-model score per document — the
   * CCNet-style perplexity pre-filter recast without an external model:
   * train p(w) = count(w)/total over the corpus itself, then score each
   * document by its mean token surprisal −ln p(w) (low = head-vocabulary
   * prose, high = rare-token noise). Tokens whose corpus count is below
   * `minCount` — and unseen tokens when scoring a different corpus — fall
   * back to a count of 1 (the standard OOV floor); the denominator stays
   * the FULL pre-cutoff token total, so kept-token probabilities are
   * cutoff-independent.
   *
   * Scale: the vocabulary aggregate is one partial-agg shuffle (map-side
   * combine collapses the token stream to distinct tokens per partition
   * first). A fixed `minCount` cut does NOT bound the kept vocabulary as
   * the corpus grows — under Heaps' law the count-≥-minCount head keeps
   * growing with corpus size — so the model join is left to the planner
   * (AQE broadcasts it while it fits, shuffles when it doesn't; the same
   * call [[sourceTokenDrift]] makes for its marginal table). To get a
   * model bounded BY CONSTRUCTION, pass `topK`: the vocab is cut to the
   * K most frequent kept tokens (count desc, token asc — a total order,
   * so the cut boundary is deterministic and engine-portable), which is
   * what production LM filters ship, and with it the broadcast is
   * guaranteed safe at any corpus size. The denominator stays the FULL
   * pre-cutoff token total either way, so kept-token probabilities are
   * cutoff-independent.
   *
   * Output: (id, n_tokens, lm_score); token-less docs absent. lm_score is
   * pround4-rounded: the per-doc mean sums doubles in engine-dependent
   * order; 4dp absorbs the ~1e-12 noise (same trade as
   * [[Analytics.textRankBm25]]).
   */
  def unigramLmScore(docs: DataFrame, idCol: String, textCol: String,
                     minCount: Long = 2L,
                     topK: Option[Int] = None): DataFrame = {
    val toks = TextAnalysis.toks(col(textCol))
    val tok = docs.select(col(idCol), explode(toks).as("tok"))
    val freq = tok.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = freq.agg(sum(col("c")).cast("double").as("s"))
    tok.join(vocabCut(freq, "tok", "c", minCount, topK), Seq("tok"), "left")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        pround4(avg(-log(coalesce(col("c"), lit(1L)).cast("double")
          / col("s")))).as("lm_score"))
  }

  /** An LM's model table: the `cnt >= minCount` cut of a (key, cnt) count
    * table, then with `topK` its K most frequent entries (count desc, key
    * asc — a total order, so the boundary is deterministic) broadcast, as
    * bounded by construction; without `topK` the join is left to AQE
    * (Heaps' law: minCount alone is no bound). */
  private def vocabCut(counts: DataFrame, key: String, cnt: String,
                       minCount: Long, topK: Option[Int]): DataFrame = {
    val cut = counts.filter(col(cnt) >= minCount)
    topK.fold(cut)(k =>
      broadcast(cut.orderBy(col(cnt).desc, col(key).asc).limit(k)))
  }

  /**
   * Corpus-trained BIGRAM language-model score per document: mean token
   * surprisal −ln p(w_i | w_{i-1}) with stupid-backoff to the unigram
   * model (Brants et al. 2007: p = count(w_{i-1} w_i)/count(w_{i-1}) when
   * the bigram is attested ≥ `minCount` times, else 0.4 · p_unigram(w_i))
   * — catches shuffled-word salad that unigram scoring cannot (every
   * token frequent, no attested transitions). The first token of each
   * doc has no history and takes the same 0.4·p_unigram backoff branch
   * (one uniform fall-through rather than Brants' context-free plain
   * p(w) — a constant −ln 0.4 per doc, rank-neutral; pinned in
   * CurationSpec and the oracle).
   *
   * Scale: same shape as [[unigramLmScore]] — two count aggregates (one
   * over tokens, one over adjacent pairs, both map-side combined), then
   * ONE corpus-side pass joins each position against the bigram and
   * unigram models. Like the unigram scorer, a fixed `minCount` does NOT
   * bound either model table as the corpus grows (Heaps' law — and the
   * attested-bigram table grows even faster than the vocab), so the model
   * joins are planner-sized by default; pass `topK` to cut BOTH models to
   * their K most frequent entries (total order: count desc, key asc) and
   * make the broadcasts safe by construction. Output: (id, n_tokens,
   * lm2_score), token-less docs absent; pround4 for the engine-order
   * float sum.
   */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String,
                    minCount: Long = 2L,
                    topK: Option[Int] = None): DataFrame = {
    val toks = TextAnalysis.toks(col(textCol))
    val tok = docs.select(col(idCol), explode(toks).as("tok"))
    val uni = tok.groupBy(col("tok")).agg(count(lit(1)).as("uc"))
    val total = uni.agg(sum(col("uc")).cast("double").as("s"))
    val uniKept = vocabCut(uni, "tok", "uc", minCount, topK)
    val bi = vocabCut(gramRows(docs, idCol, textCol, n = 2)
      .groupBy(col("gram")).agg(count(lit(1)).as("bc")),
      "gram", "bc", minCount, topK)
    // per-position rows with the previous token attached array-locally
    // (no lag window): posexplode yields 0-based p, so the 1-based
    // element_at(ts, p) IS the predecessor; p=0 → null history. A
    // history-less gram is the bare token — it can never collide with a
    // real bigram gram (those always contain a space).
    val pos = docs.select(col(idCol), toks.as("_ts"))
      .select(col(idCol), col("_ts"),
        posexplode(col("_ts")).as(Seq("p", "tok")))
      .withColumn("prev", when(col("p") > 0, element_at(col("_ts"), col("p"))))
      .select(col(idCol), col("tok"), col("prev"),
        concat_ws(" ", col("prev"), col("tok")).as("gram"))
    val punw = coalesce(col("uc"), lit(1L)).cast("double") / col("s")
    val scored = pos
      .join(bi, Seq("gram"), "left")
      .join(uniKept.select(col("tok").as("prev"),
        col("uc").as("prev_uc")), Seq("prev"), "left")
      .join(uniKept, Seq("tok"), "left")
      .crossJoin(broadcast(total))
      .select(col(idCol),
        when(col("prev").isNotNull && col("bc").isNotNull &&
             col("prev_uc").isNotNull,
          col("bc").cast("double") / col("prev_uc"))
          .otherwise(lit(0.4) * punw).as("p"))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        pround4(avg(-log(col("p")))).as("lm2_score"))
  }

  /**
   * Corpus-wide adjacent-token pair frequencies, top-k — the merge-
   * selection step of BPE vocabulary induction (word-level pairs here;
   * byte-level BPE has the identical plan shape, only the tokenizer
   * differs). Pairs are built array-locally per document via [[gramRows]]
   * (no window, no per-token shuffle), then ONE partial-agg shuffle
   * counts occurrences and TakeOrderedAndProject takes the head — the
   * occurrence-counting sibling of [[ngramDocFreqTopK]] (which counts
   * document frequency over distinct-per-doc shingles). Total order
   * (count desc, pair asc) makes the k-boundary deterministic. Iterated
   * BPE training ([[bpeTrain]]) re-runs this after applying the chosen
   * merge — each round is the same single-shuffle job.
   */
  def bpePairTopK(docs: DataFrame, idCol: String, textCol: String,
                  k: Int): DataFrame =
    gramRows(docs, idCol, textCol, n = 2)
      .groupBy(col("gram").as("pair"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("pair").asc)
      .limit(k)

  /**
   * Iterated BPE training: `iters` rounds of merge selection + merge
   * application. Each round picks the most frequent adjacent token pair
   * — ordered (count desc, t1 asc, t2 asc), a total order on the PAIR
   * COMPONENTS (not their concatenation, which is ambiguous once merged
   * tokens contain the joiner) so the choice is deterministic in any
   * engine — then fuses its non-overlapping left-to-right occurrences
   * into single tokens (the standard greedy apply: in a run of
   * overlapping candidates, the 1st, 3rd, ... merge) and re-counts pairs
   * over the merged arrays. Merged tokens join with a space (word-level
   * BPE's "new york" convention); the fold's equality tests compare FULL
   * token strings, so the joiner introduces no ambiguity in the
   * algorithm itself.
   *
   * Plan per round: one partial-agg pair-count shuffle + a driver fetch
   * of the single winning pair (model-sized — the same seam as
   * [[Similarity.kmeansCentroids]]) + one scan-local fold applying the
   * merge, with the token table re-staged per round and round k−1
   * released (constant lineage depth — the [[Dedup.dedupClusters]] /
   * [[WebGraph.pagerank]] pattern), in the body's own [[graft.Staging.scope]]:
   * nothing stays staged after the call. Stops early if no adjacent pair
   * remains. Returns the merge list (round, t1, t2, c) — c is the pair's
   * count BEFORE merging.
   *
   * JOB-COUNT TRADE (deliberate): one shuffle per merge means a 32k-merge
   * vocabulary is 32k sequential jobs — acceptable because TRAINING runs
   * on a bounded sample (tokenizer corpora are GB-scale samples, not the
   * corpus), while the corpus-scale half of the loop is [[bpeEncode]],
   * which applies the trained list in a single depth-independent scan.
   */
  def bpeTrain(docs: DataFrame, idCol: String, textCol: String,
               iters: Int): DataFrame = Staging.scope {
    require(iters >= 1, "iters must be >= 1")
    val spark = docs.sparkSession
    var toksDf = Staging(docs
      .select(col(idCol), TextAnalysis.toks(col(textCol)).as("ts"))
      .filter(size(col("ts")) >= 2))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var done = false
    for (r <- 1 to iters if !done) {
      // adjacent pairs as zip(ts[0..n-2], ts[1..n-1]) — ArraysZip/Slice are
      // codegen'd; the former transform/sequence/element_at HOF chain was
      // CodegenFallback, interpreted per row on every training round
      val pairRows = toksDf.select(explode(arrays_zip(
          slice(col("ts"), lit(1), size(col("ts")) - 1).as("a"),
          slice(col("ts"), lit(2), size(col("ts")) - 1).as("b"))).as("p"))
        .select(col("p.a").as("t1"), col("p.b").as("t2"))
      val top = pairRows.groupBy(col("t1"), col("t2"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t1").asc, col("t2").asc)
        .limit(1)
        .collect() // 1 row — the round's merge decision, model-sized
      if (top.isEmpty) done = true
      else {
        val (p1, p2, c) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        merges += ((r.toLong, p1, p2, c))
        // greedy left-to-right fold: merge when the accumulator's last
        // token is exactly p1 and the incoming one is p2 — a just-merged
        // token is strictly longer than p1, so overlapping candidates
        // naturally alternate (1st, 3rd, ... of each run merge). The
        // array_contains guard skips the (interpreted, O(n)-copy) fold
        // for every doc that can't contain the pair at all — most of the
        // corpus for most merges.
        // the merged token table only feeds the NEXT round's pair count —
        // after the last round it is dead, so the merge-apply + checkpoint
        // (a full corpus materialization) is skipped entirely there
        // (measured ~0.4 s/composite at sf0.1)
        if (r < iters) {
          // apply the round's single merge via the native BpeEncodeTokens
          // kernel — EXACTLY the greedy fold's semantics (CurationSpec pins
          // expression == chain == fold), with the presence guard internal
          // to the kernel; the former aggregate() HOF fold ran
          // CodegenFallback per row
          val last = toksDf
          toksDf = Staging(toksDf.select(col(idCol),
            graft.functions.BpeExprs.bpeEncodeTokens(col("ts"),
              Seq((p1, p2))).as("ts")))
          Staging.release(last)
        }
      }
    }
    spark.createDataFrame(merges.toSeq)
      .toDF("round", "t1", "t2", "c")
      .orderBy("round")
  }

  /**
   * BPE ENCODE — apply an ordered merge list (the output of [[bpeTrain]])
   * to tokenize documents: the inference half of the tokenizer loop
   * (train once, encode the whole corpus forever after).
   *
   * The greedy left-to-right non-overlapping apply that BPE requires is
   * EXACTLY the semantics of plain string `replace`: wrap every token in
   * sentinel delimiters (\u0002 t \u0003 — unambiguous because word
   * tokens are \w+ and merged tokens only add spaces), then for each
   * merge in training order replace the literal "\u0002t1\u0003\u0002t2\u0003"
   * with "\u0002t1 t2\u0003". A run of overlapping candidates merges at
   * positions 1, 3, ... — identical to [[bpeTrain]]'s fold (spec-tested)
   * — and the scan never rescans replaced text, so no new cross-boundary
   * matches arise. One codegen'd StringReplace per merge, chained.
   *
   * DEPTH LIMIT (measured, BENCH.md §7): one StringReplace
   * node per merge means expression depth = merge count — throughput
   * degrades superlinearly (each merge re-scans the whole wrapped
   * string; 4.9k → 1.7k docs/s from depth 64 → 256) and Catalyst
   * analysis StackOverflows near depth 512, an order of magnitude below
   * production vocabularies. Kept as the small-vocabulary reference
   * implementation and spec twin (CurationSpec asserts chain ==
   * [[bpeEncode]] expression on the same corpus); use [[bpeEncode]]
   * beyond toy merge counts.
   */
  def bpeEncodeChain(docs: DataFrame, idCol: String, textCol: String,
                     merges: Seq[(String, String)],
                     carry: Seq[String] = Nil): DataFrame = {
    val sep1 = "\u0002"; val sep2 = "\u0003"
    val cc = carry.map(col)
    val wrapped = concat_ws("",
      transform(TextAnalysis.toks(col(textCol)),
        t => concat(lit(sep1), t, lit(sep2))))
    val applied = merges.foldLeft(wrapped) { case (s, (t1, t2)) =>
      replace(s, lit(sep1 + t1 + sep2 + sep1 + t2 + sep2),
        lit(sep1 + t1 + " " + t2 + sep2))
    }
    docs.select(col(idCol) +: cc :+
      when(length(applied) === 0, array().cast("array<string>"))
        .otherwise(split(
          substring(applied, 2, Int.MaxValue), sep2 + sep1))
        .as("enc"): _*)
      .select(col(idCol) +: cc :+
        // trailing sep2 survives the split on the last element — trim it
        (transform(col("enc"), t => regexp_replace(t, sep2 + "$", ""))
          .as("toks"): Column): _*)
      .select(col(idCol) +: cc :+
        concat_ws("|", col("toks")).as("toks_str") :+
        (size(col("toks")).cast("long").as("n_tokens"): Column): _*)
  }

  /**
   * BPE ENCODE — apply an ordered merge list (the output of [[bpeTrain]])
   * to tokenize documents: the inference half of the tokenizer loop
   * (train once, encode the whole corpus forever after).
   *
   * Routed through the native [[graft.functions.BpeEncodeTokens]]
   * expression: ONE codegen'd scan-local kernel whose plan shape and
   * analysis cost are INDEPENDENT of the merge count — the merge list
   * rides along as a single model-sized reference object (the
   * k-means-centroid seam in [[Similarity.kmeansCentroids]]), so a
   * production vocabulary (10⁴–10⁵ merges) compiles and streams exactly
   * like a 3-merge test. This replaced the StringReplace chain
   * ([[bpeEncodeChain]]) after measurement (BENCH.md §7):
   * the chain's expression depth equals the merge count, whose per-merge
   * full-string re-scan degrades superlinearly (4.9k → 1.7k docs/s from
   * depth 64 → 256) and whose analysis StackOverflows Catalyst at depth
   * 512 — and the checkpoint-seam workaround would
   * cost one full corpus materialization per ~64 merges (~500 corpus
   * writes for a 32k vocab). Semantics unchanged (CurationSpec pins
   * expression == chain == [[bpeTrain]]'s fold): per merge in training
   * order, one left-to-right pass fuses adjacent (t1, t2) into "t1 t2";
   * overlapping candidate runs merge at positions 1, 3, ....
   *
   * Scale: zero shuffles, no per-token explode, whole-stage codegen end
   * to end at ANY merge count (probe-measured through 4096 merges).
   */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)],
                carry: Seq[String] = Nil): DataFrame = {
    val cc = carry.map(col)
    // raw split, NOT TextAnalysis.toks: the kernel drops the ""-boundary
    // artifacts itself, because the filter() HOF is CodegenFallback and
    // would evict the whole projection from whole-stage codegen
    docs.select(col(idCol) +: cc :+
      graft.functions.BpeExprs.bpeEncodeTokens(
        words(col(textCol)), merges).as("toks"): _*)
      .select(col(idCol) +: cc :+
        concat_ws("|", col("toks")).as("toks_str") :+
        (size(col("toks")).cast("long").as("n_tokens"): Column): _*)
  }

  /**
   * Train-then-encode composition: [[bpeTrain]]'s merge list (collected
   * driver-side — model-sized, `iters` rows) applied corpus-wide by
   * [[bpeEncode]]. The training pass is its own bounded job; the encode
   * pass is scan-local.
   */
  def bpeTrainEncode(docs: DataFrame, idCol: String, textCol: String,
                     iters: Int): DataFrame = {
    val merges = bpeTrain(docs, idCol, textCol, iters)
      .orderBy("round").collect() // model-sized: `iters` merge rows
      .map(r => (r.getString(1), r.getString(2))).toSeq
    bpeEncode(docs, idCol, textCol, merges)
  }

  /**
   * Tokenizer fertility per source — BPE tokens emitted per pre-merge
   * word, the standard tokenizer-efficiency diagnostic (a source whose
   * fertility runs high is poorly served by the learned merges; fertility
   * is THE metric tokenizer papers report per language). Composition:
   * [[bpeTrain]]'s merge list (model-sized, collected) + ONE scan-local
   * encode pass with source and word count carried through (no corpus
   * join — the carry columns ride the encode projection), then one
   * source-keyed aggregate. Output (source, n_docs, bpe_tokens, words,
   * fertility 4dp); zero-word docs excluded (no fertility to measure).
   */
  def bpeFertility(docs: DataFrame, idCol: String, textCol: String,
                   srcCol: String, iters: Int): DataFrame = {
    val merges = bpeTrain(docs, idCol, textCol, iters)
      .orderBy("round").collect() // model-sized: `iters` merge rows
      .map(r => (r.getString(1), r.getString(2))).toSeq
    bpeEncode(
      docs.withColumn("_nw", wordCount(col(textCol))),
      idCol, textCol, merges, carry = Seq(srcCol, "_nw"))
      .filter(col("_nw") > 0)
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("bpe_tokens"),
        sum(col("_nw")).as("words"),
        pround4(sum(col("n_tokens")).cast("double") / sum(col("_nw")))
          .as("fertility"))
  }

  /**
   * CCNet-style perplexity bucketing (Wenzek et al. 2020): within each
   * group (CCNet: language; here any grouping column) docs split into
   * head/middle/tail terciles by LM surprisal — head = the most fluent
   * third, the slice CCNet keeps outright. Composition:
   * [[unigramLmScore]] + [[calibrateScores]]' per-group percent_rank +
   * a scan-local CASE; ties share a percent_rank, so assignment is
   * deterministic and engine-portable. The per-group window carries the
   * same caveat as [[domainStats]]' ntile: exact terciles cost a
   * within-group sort (CCNet itself sorts per language); swapping in
   * approximate thresholds (one aggregate + scan-local CASE) is the
   * constant-memory variant when groups are corpus-scale.
   */
  def ccnetBuckets(docs: DataFrame, idCol: String, textCol: String,
                   grpCol: String, minCount: Long = 2L,
                   topK: Option[Int] = None): DataFrame = {
    val scored = unigramLmScore(docs, idCol, textCol, minCount, topK)
      .join(docs.select(col(idCol), col(grpCol)), Seq(idCol))
    calibrateScores(scored, grpCol, "lm_score")
      .select(col(idCol), col(grpCol), col("lm_score"),
        when(col("calibrated") < 1.0 / 3, "head")
          .when(col("calibrated") < 2.0 / 3, "middle")
          .otherwise("tail").as("bucket"))
  }

  /**
   * Per-source token-distribution drift: KL divergence of each source's
   * unigram distribution from the corpus-wide one,
   * KL(source ‖ corpus) = Σ_w p_s(w) · ln(p_s(w)/p(w)) — the standard
   * corpus-mixture drift monitor (a source whose language shifts, or a
   * scraper gone wrong, spikes its KL long before eyeballing samples
   * finds it). Summed over the source's OWN support only (p_s(w)=0 terms
   * contribute 0), so no smoothing is needed: p(w) > 0 wherever
   * p_s(w) > 0 by construction.
   *
   * Scale: one (source, token) partial-agg shuffle + one token-keyed
   * join of the corpus marginals — NOT force-broadcast: the marginal
   * table spans the FULL distinct-token support (kept exact so the
   * oracle sums the full support), which at crawl scale exceeds
   * broadcast size; AQE broadcasts it when small, shuffles when not
   * (a production variant would min-count-cut it to a Zipf head exactly
   * like [[unigramLmScore]]'s vocab). The per-source totals row set IS
   * bounded (one row per source) and stays broadcast. The final per-source
   * roll-up is source-count-sized. Output (source, n_tokens, kl),
   * pround4 for the float sum order.
   */
  def sourceTokenDrift(docs: DataFrame, srcCol: String,
                       textCol: String): DataFrame = {
    val toks = TextAnalysis.toks(col(textCol))
    val st = docs.select(col(srcCol), explode(toks).as("tok"))
      .groupBy(col(srcCol), col("tok")).agg(count(lit(1)).as("sc"))
    val corpus = st.groupBy(col("tok")).agg(sum(col("sc")).as("cc"))
    val totals = st.groupBy(col(srcCol)).agg(sum(col("sc")).as("stot"))
    val ctot = corpus.agg(sum(col("cc")).cast("double").as("ct"))
    st.join(corpus, Seq("tok"))
      .join(broadcast(totals), Seq(srcCol))
      .crossJoin(broadcast(ctot))
      .select(col(srcCol), col("stot"),
        (col("sc") / col("stot") *
          log((col("sc").cast("double") / col("stot")) /
              (col("cc").cast("double") / col("ct")))).as("term"))
      .groupBy(col(srcCol))
      .agg(max(col("stot")).as("n_tokens"),
        pround4(sum(col("term"))).as("kl"))
  }

  /**
   * Feature hashing (the hashing trick, Weinberger et al. 2009): project
   * each document's token multiset into a fixed `dim`-bucket sparse
   * vector — bucket = md5-hash mod dim, sign = one extra hash bit (sign
   * cancellation keeps the estimator unbiased), weight = signed token
   * count. Output is the SPARSE relational form (id, bucket, weight) —
   * exactly what downstream per-bucket aggregates ([[Similarity.groupCentroids]]
   * takes the same shape) and sparse dot products consume; a dense array
   * per doc is one `map_from_entries`/`transform` projection away, with
   * no extra shuffle.
   *
   * Scale: explode → one partial-agg shuffle on (id, bucket); rows out
   * ≤ min(n_tokens, dim) per doc. md5-derived bucket and sign are
   * engine-portable (same construction as [[stratifiedSampleFilter]]) —
   * no JVM `hashCode` dependence.
   */
  def hashFeaturize(docs: DataFrame, idCol: String, textCol: String,
                    dim: Int): DataFrame = {
    require(dim > 0, "dim must be positive")
    // scan-local kernel (graft.functions.HashedBagFeatures — guide §2.4):
    // the per-doc signed bucket sums are a pure per-row function; the
    // former explode + groupBy(id, bucket) shuffled every token row
    docs.select(col(idCol),
        explode(bagOf(col(textCol), dim, signed = true)).as("_f"))
      .select(col(idCol), col("_f.bucket").as("bucket"),
        col("_f.weight").as("weight"))
  }

  /** A doc's hashed (bucket, weight) bag over its lower-cased `\W+`
    * tokens — the [[graft.functions.HashedBagFeatures]] kernel. The one
    * token → bucket path of every hashed-bag operator and its streaming
    * twin; unsigned weights are token counts. */
  private[graft] def bagOf(text: Column, dim: Int,
                           signed: Boolean = false): Column =
    graft.functions.MinhashExprs.hashedBagFeatures(words(text), dim, signed)

  /** Unsigned bag rows (keep…, bucket, n): one row per bucket a doc's
    * tokens touched, n = how many did — no shuffle. */
  private def bagRows(docs: DataFrame, textCol: String, dim: Int,
                      keep: Column*): DataFrame =
    docs.select(keep :+ explode(bagOf(col(textCol), dim)).as("_f"): _*)
      .select(col("*"), col("_f.bucket").as("bucket"), col("_f.weight").as("n"))
      .drop("_f")

  /**
   * The Laplace log-ratio model behind DSIR and Naive-Bayes: per bucket,
   * from the bag's per-row numerator / denominator token counts,
   *
   *   lr  = ln((num+1)/(Σnum+dim)) − ln((den+1)/(Σden+dim))
   *   lr0 = the same ratio at zero counts — the floor for a bucket the
   *         training corpus never produced (scoring a disjoint corpus)
   *
   * One groupBy(bucket) + a 1-row totals broadcast; output
   * (bucket, lr, lr0), ≤ dim rows BY CONSTRUCTION (a parameter, not a
   * corpus property — what makes every consumer's broadcast safe).
   */
  private def logRatioModel(bag: DataFrame, num: Column, den: Column,
                            dim: Int): DataFrame = {
    val counts = bag.groupBy(col("bucket"))
      .agg(sum(num).as("num"), sum(den).as("den"))
    val totals = counts.agg(sum(col("num")).as("tnum"),
      sum(col("den")).as("tden"))
    def lr(c: Column, d: Column): Column =
      log((c + 1.0) / (col("tnum") + dim)) - log((d + 1.0) / (col("tden") + dim))
    counts.crossJoin(broadcast(totals))
      .select(col("bucket"), lr(col("num"), col("den")).as("lr"),
        lr(lit(0L), lit(0L)).as("lr0"))
  }

  /**
   * Per-group token-budget capping (domain balancing): documents are
   * admitted in deterministic (group, id) order until the group's
   * cumulative token count exceeds `budget` — the standard head-domain
   * down-weighting step in web-corpus mixing. The doc that CROSSES the
   * budget is the last one admitted (budget is a low-water mark on the
   * preceding prefix), so every group with any doc keeps at least one.
   * One per-group prefix-sum window, parallel across groups — the same
   * scale shape as [[sequencePack]].
   */
  def tokenBudgetFilter(docs: DataFrame, idCol: String, textCol: String,
                        grpCol: String, budget: Long): DataFrame =
    tokenPrefix(docs, idCol, textCol, grpCol)
      .filter(col("prefix") < budget)
      .select(col(grpCol), col(idCol), col("n_tokens"))

  /**
   * UniMax per-source token budgets (Chung et al. 2023, "UniMax: Fairer
   * and More Effective Language Sampling for Large-Scale Multilingual
   * Pretraining", ICLR): distribute a total training budget B over
   * sources by visiting them SMALLEST-FIRST and granting each
   * min(epochCap·sizeᵢ, equal share of what remains) — small sources are
   * fully used up to the repeat cap, large ones split the rest evenly,
   * with no temperature hyperparameter to tune.
   *
   * The sequential waterfill has a closed form on the size-sorted table:
   * once one source is uncapped every later (≥-sized) source is too and
   * they all receive the SAME share, so the allocation is determined by
   * k* = #capped = the count of the all-true prefix of
   * capᵢ·(n−rankᵢ+1) ≤ B − Σ_{j<i} capⱼ (the flag sequence is monotone
   * true→false: a failure at i forces failure at i+1). Everything up to
   * the two scalars (k*, Σ_{i≤k*} capᵢ) is window arithmetic in exact
   * integers; only the final share divides.
   *
   * Plan: per-source sizes are one partial-agg shuffle over the corpus;
   * everything after runs on the SOURCE table (one row per source —
   * aggregate-scale by construction, so the two unpartitioned windows
   * here are documented bounded cases, same class as the ntile in
   * [[ccnetBuckets]]); the (k, prefix_k, n) scalars crossJoin back
   * broadcast-sized. Emits (group, n_tokens, budget_tokens, epochs 4dp).
   * A source with no word tokens has mixture weight 0 and is absent: it
   * would rank first and cap at 0, so dropping it shifts `rn` and `n`
   * together and leaves every other source's allocation unchanged.
   */
  def unimaxAllocation(docs: DataFrame, grpCol: String, textCol: String,
                       budget: Long, epochCap: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0 && epochCap > 0, "budget and epochCap must be > 0")
    val sizes = docs
      .select(col(grpCol), wordCount(col(textCol)).as("_nt"))
      .groupBy(col(grpCol)).agg(sum(col("_nt")).as("n_tokens"))
      .filter(col("n_tokens") > 0) // weight 0: no allocation, no 0/0 epochs
      .select(col(grpCol), col("n_tokens"),
        (col("n_tokens") * epochCap).as("cap"))
    // source-table windows: one row per source — bounded by construction
    val wAsc = Window.orderBy(col("n_tokens").asc, col(grpCol).asc)
    val ranked = sizes
      .withColumn("rn", row_number().over(wAsc).cast("long"))
      .withColumn("pref", sum(col("cap")).over(wAsc)) // inclusive Σ cap
    val n1 = ranked.agg(count(lit(1)).as("n"))
    val flagged = ranked.crossJoin(broadcast(n1))
      .withColumn("capped",
        col("cap") * (col("n") - col("rn") + 1L) <=
          lit(budget) - (col("pref") - col("cap")))
    val scal = flagged.agg(
      sum(when(col("capped"), 1L).otherwise(0L)).as("k"),
      sum(when(col("capped"), col("cap")).otherwise(0L)).as("pref_k"),
      count(lit(1)).as("n2"))
    val share = when(col("n2") > col("k"),
      (lit(budget) - col("pref_k")).cast("double") /
        (col("n2") - col("k")).cast("double")).otherwise(lit(0.0))
    flagged.crossJoin(broadcast(scal))
      .select(col(grpCol), col("n_tokens"),
        TextAnalysis.pround4(when(col("rn") <= col("k"),
          col("cap").cast("double")).otherwise(share)).as("budget_tokens"),
        TextAnalysis.pround4(when(col("rn") <= col("k"),
          col("cap").cast("double")).otherwise(share) /
          col("n_tokens").cast("double")).as("epochs"))
  }

  /**
   * Top-k rows per group (e.g. the k best-quality documents per domain —
   * the per-domain representative-selection step in corpus mixing). One
   * per-group window rank, parallel across groups — right whenever groups
   * are partition-sized. For a pathological giant group with tiny k use
   * [[topKPerGroupSalted]] (two-phase salted rank, exact).
   */
  def topKPerGroup(df: DataFrame, grpCol: String, k: Int,
                   order: Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(grpCol)).orderBy(order: _*)
    // collision-safe internal name: withColumn REPLACES an existing
    // column, so a caller-supplied "rk" would be silently destroyed
    val rk = "__graft_topk_rk"
    df.withColumn(rk, org.apache.spark.sql.functions.row_number().over(w))
      .filter(col(rk) <= k).drop(rk)
  }

  /**
   * Salted two-phase top-k per group — the skew-proof variant for groups
   * too large to sort in one partition: phase 1 ranks within (group,
   * salt-bucket) and keeps each bucket's top k, phase 2 re-ranks the
   * ≤ salt·k survivors per group. EXACT for any salt: every true top-k
   * row of a group is also within the top k of its own bucket (fewer
   * competitors), so phase 1 never discards a winner — salting trades a
   * second (tiny) window for bounding the largest sort partition by
   * |group|/salt. The bucket is md5-derived from `saltKey` (a row-unique
   * column), so the split is deterministic and engine-portable — no
   * partitioning-dependent rand().
   */
  def topKPerGroupSalted(df: DataFrame, grpCol: String, saltKey: Column,
                         salt: Int, k: Int, order: Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(salt >= 1, "salt must be >= 1")
    val sc_ = "__graft_topk_salt"
    val rk = "__graft_topk_rk"
    val bucket = md5Mod(md5(saltKey.cast("string")), salt.toLong)
    val w1 = Window.partitionBy(col(grpCol), col(sc_)).orderBy(order: _*)
    val w2 = Window.partitionBy(col(grpCol)).orderBy(order: _*)
    df.withColumn(sc_, bucket)
      .withColumn(rk, row_number().over(w1))
      .filter(col(rk) <= k)
      .withColumn(rk, row_number().over(w2)) // over ≤ salt·k rows per group
      .filter(col(rk) <= k)
      .drop(sc_, rk)
  }

  /**
   * Size-adaptive top-k per group: groups at or below `threshold` rows
   * take the single-window path, larger ones the salted two-phase path —
   * the dispatch a production job makes when a handful of head domains
   * dwarf the rest. Group sizes are one partial-agg aggregate (group-
   * cardinality-sized), attached by a planner-sized join; the two paths'
   * unions are disjoint by construction. Results are identical to
   * [[topKPerGroup]] (both paths are exact).
   */
  def topKPerGroupAdaptive(df: DataFrame, grpCol: String, saltKey: Column,
                           salt: Int, k: Int, threshold: Long,
                           order: Column*): DataFrame = {
    val gs = "__graft_topk_gsz"
    val sizes = df.groupBy(col(grpCol)).agg(count(lit(1)).as(gs))
    val withSz = df.join(sizes, Seq(grpCol))
    val small = topKPerGroup(withSz.filter(col(gs) <= threshold),
      grpCol, k, order: _*)
    val big = topKPerGroupSalted(withSz.filter(col(gs) > threshold),
      grpCol, saltKey, salt, k, order: _*)
    small.union(big).drop(gs)
  }

  /**
   * Per-source score CALIBRATION: each document's quality score is
   * replaced by its percent rank WITHIN its source,
   * (rank − 1)/(n − 1) ∈ [0, 1] — the standard normalization before a
   * single global quality threshold is applied to a multi-source corpus
   * (raw scorer scales differ per source: a 0.6 from a news domain and a
   * 0.6 from a forum dump are not the same quality; per-source quantiles
   * are). Ties share a rank (SQL PERCENT_RANK semantics, identical in
   * both engines) — and BECAUSE rank() counts strictly-lower values
   * only, the output is deterministic with no tiebreak column at all:
   * equal scores get equal calibrated values regardless of physical row
   * order. Single-doc sources calibrate to 0.0 by definition.
   * One per-group window, parallel across sources — the same scale shape
   * as [[topKPerGroup]]; for a pathologically giant source the salted
   * two-phase trick does NOT apply (percent rank needs the true global
   * rank), so giant groups pay their sort — documented.
   * The rank's rational value is exact in doubles (both engines compute
   * the same division); pround4 guards the hash anyway.
   */
  def calibrateScores(df: DataFrame, grpCol: String,
                      scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(grpCol)).orderBy(col(scoreCol))
    df.withColumn("calibrated", pround4(percent_rank().over(w)))
  }

  /**
   * Cross-source shingle overlap: for every unordered source pair, how
   * many distinct word n-grams they share — the corpus-mixing /
   * provenance-leak report. Distinct (source, shingle) rows roll up to a
   * per-shingle sorted postings list of sources (bounded by the source
   * count; `maxSources` caps a boilerplate shingle present everywhere,
   * the same df-cap license as [[Dedup.ngramJaccardPairs]]); pairs are
   * generated ARRAY-LOCALLY from the bounded list — never a self-join of
   * the shingle table.
   */
  def sourceOverlap(docs: DataFrame, srcCol: String, textCol: String,
                    n: Int = 3, maxSources: Int = 64): DataFrame = {
    // no pre-distinct: collect_set dedups sources per shingle, and its
    // map-side partial aggregation absorbs same-source duplicates before
    // the shuffle — a .distinct() here would only add a second full
    // exchange of the shingle table
    val sh = Dedup.shingles(docs, srcCol, textCol, n)
    // native fused kernel (graft.functions.OrderedPairs): the former HOF
    // enumeration (nested transform/sequence + element_at) was
    // CodegenFallback — interpreted per shingle bucket; the kernel emits
    // the same positional i<j pairs (the list is sorted, so src1 < src2)
    // in one codegen loop
    val pairsOf = (ss: Column) => graft.functions.PairExprs.orderedPairs(ss)
    sh.groupBy(col("shingle"))
      .agg(sort_array(collect_set(col(srcCol))).as("ss"))
      .filter(size(col("ss")).between(2, maxSources))
      .select(explode(pairsOf(col("ss"))).as("p"))
      .groupBy(col("p.src1").as("src1"), col("p.src2").as("src2"))
      .agg(count(lit(1)).as("shared_shingles"))
  }

  /**
   * DSIR importance weights (Xie et al. 2023, "Data Selection for
   * Language Models via Importance Resampling", public): score every raw
   * document by how target-domain-like it is under hashed-unigram
   * bag-of-words LMs — w(doc) = Σ_b n_doc[b] · (ln p_target[b] − ln
   * p_raw[b]) with Laplace smoothing p[b] = (c[b]+1)/(total+dim) — the
   * paper's importance log-weight with its hashed-n-gram feature space
   * (here the [[hashFeaturize]] md5 bucket construction, unsigned).
   *
   * `isTarget` marks the in-domain exemplar rows INSIDE the same corpus
   * frame (e.g. `col("source") === "wiki"`); the model and the doc scores
   * derive from one scan-local bag table, so the whole operator is ONE
   * scan + one dim-bounded aggregate ([[logRatioModel]]). The model join
   * is broadcast BY CONSTRUCTION (dim rows — a parameter, not a corpus
   * property; contrast the Heaps-unbounded LM vocab where the hint would
   * be wrong). Output: (id, n_tokens, dsir_weight 4dp).
   */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  isTarget: Column, dim: Int = 64): DataFrame = {
    require(dim > 0, "dim must be positive")
    val bag = Staging( // one scan feeds the model AND the doc scores
      bagRows(docs, textCol, dim, col(idCol), isTarget.as("y")))
    bag.join(broadcast(dsirTrain(bag, dim)), Seq("bucket")) // dim rows
      .groupBy(col(idCol))
      .agg(sum(col("n")).as("n_tokens"),
        pround4(sum((col("n") * col("lr")).cast("decimal(28,12)"))
          .cast("double")).as("dsir_weight"))
  }

  /**
   * DSIR selection — deterministic Gumbel-top-k resampling over
   * [[dsirWeights]]: the paper samples without replacement by ranking
   * w + g with Gumbel noise g; here g is derived from a content hash
   * (g = −ln(−ln(u)), u = (md5(salt|id) mod 10⁶ + 0.5)/10⁶ — the
   * [[stratifiedSampleFilter]] no-rand recipe), so the "sample" is
   * reproducible, resume-stable, and oracle-checkable while keeping the
   * paper's stochastic-resampling semantics exactly. One corpus-wide
   * TakeOrderedAndProject on the scored table.
   */
  def dsirSample(weights: DataFrame, idCol: String, k: Int,
                 salt: String = "dsir"): DataFrame = {
    val u = (md5Mod(md5(concat(lit(salt), lit("|"), col(idCol).cast("string"))),
      1000000L).cast("double") + 0.5) / 1000000.0
    weights.select(col(idCol), col("dsir_weight"),
        pround4(col("dsir_weight") - log(-log(u))).as("gumbel_score"))
      .orderBy(col("gumbel_score").desc, col(idCol))
      .limit(k)
  }

  /**
   * Line-level quality signals (FineWeb/CCNet filter family): per doc,
   * the line count, duplicate-line fraction (boilerplate indicator —
   * repeated nav/footer lines), mean line length, and short-line
   * fraction. Entirely array-local: one split per doc, every statistic
   * computed inside the row — zero shuffles, scan-local at any corpus
   * size. Empty lines are dropped before counting (a trailing separator
   * is not a line).
   */
  def lineSignals(docs: DataFrame, idCol: String, textCol: String,
                  sep: String = "\n", shortLen: Int = 30): DataFrame = {
    val lines = filter(split(col(textCol), java.util.regex.Pattern.quote(sep)),
      l => l =!= "")
    val n = size(lines)
    docs.select(col(idCol), lines.as("_ls"))
      .select(col(idCol),
        size(col("_ls")).cast("long").as("n_lines"),
        when(size(col("_ls")) === 0, 0.0).otherwise(pround4(
          (size(col("_ls")) - size(array_distinct(col("_ls")))).cast("double")
            / size(col("_ls")))).as("dup_line_frac"),
        when(size(col("_ls")) === 0, 0.0).otherwise(pround4(
          aggregate(col("_ls"), lit(0L), (acc, l) => acc + length(l))
            .cast("double") / size(col("_ls")))).as("mean_line_len"),
        when(size(col("_ls")) === 0, 0.0).otherwise(pround4(
          size(filter(col("_ls"), l => length(l) < shortLen)).cast("double")
            / size(col("_ls")))).as("short_line_frac"))
  }

  /**
   * Within-document line dedup (the CCNet boilerplate scrub): keep each
   * line's FIRST occurrence, preserving document order, and rejoin. The
   * first-occurrence filter is expressed positionally —
   * `array_position(lines, x) == i+1` — rather than via array_distinct,
   * because first-occurrence-order preservation is then explicit in the
   * expression (and the identical lambda runs on the oracle side, where
   * list_distinct's ordering is not contractual). Array-local per row:
   * zero shuffles. O(L²) comparisons per doc in line count L — lines per
   * doc is bounded (≤ text/len(min line)), scan-local, and the constant
   * is a codegen'd string-equality loop.
   */
  def dedupLinesText(text: Column, sep: String = "\n"): Column = {
    val lines = filter(split(text, java.util.regex.Pattern.quote(sep)),
      l => l =!= "")
    array_join(
      filter(lines, (l, i) => array_position(lines, l) === i + 1), sep)
  }

  /**
   * Temperature-based source rebalancing — the mT5/XLM-R mixture recipe:
   * target mixture q_s ∝ n_s^α over per-source token counts (α < 1
   * flattens the head so low-resource sources aren't drowned), realized
   * WITHOUT replication by per-source acceptance rates. Since
   * q_s/π_s ∝ n_s^(α−1) is maximal at the smallest source,
   * a_s = (n_min/n_s)^(1−α) ∈ (0,1]: the rarest source keeps every doc,
   * the head is thinned toward the target mixture. Acceptance is the
   * deterministic content-hash coin of [[weightedSampleFilter]]
   * (resume-stable, engine-portable). Scale: ONE source-keyed token
   * aggregate + one single-row min — the rates table is bounded by the
   * source count, so the join back is broadcast-sized and the filter is
   * scan-local. Output: the kept docs (id, source, rate_bp). A source
   * with no word tokens has mixture weight 0: it is dropped before n_min
   * (else n_min = 0 and n_min/n_s divides by zero), so its docs leave the
   * sample and the other sources' rates are unchanged.
   */
  def temperatureSample(docs: DataFrame, idCol: String, textCol: String,
                        srcCol: String, alpha: Double = 0.5): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    val counts = docs
      .select(col(srcCol), wordCount(col(textCol)).as("nt"))
      .groupBy(col(srcCol)).agg(sum(col("nt")).as("ns"))
      .filter(col("ns") > 0) // weight 0: out of n_min, its docs unsampled
    val nmin = counts.agg(min(col("ns")).as("nmin"))
    val rates = counts.crossJoin(broadcast(nmin))
      .select(col(srcCol),
        floor(pow(col("nmin").cast("double") / col("ns"), 1.0 - alpha)
          * 10000 + 0.5).cast("long").as("rate_bp"))
    docs.select(col(idCol), col(srcCol))
      .join(broadcast(rates), Seq(srcCol))
      .filter(weightedSampleFilter(col(idCol), col("rate_bp")))
      .select(col(idCol), col(srcCol), col("rate_bp"))
  }

  /**
   * Wildcard domain blocklist — standard blocklist semantics: an entry
   * `example.com` blocks the domain AND every subdomain. The naive
   * `endswith` join is a non-equi theta-join (a cross product at scale);
   * instead each host explodes into its dot-suffixes (bounded by the
   * label count, ~5 rows per host, corpus-linear) and the list joins by
   * EQUALITY on the suffix — one hash-partitioned semi-join that AQE
   * broadcasts whenever the list fits. Output: the BLOCKED docs
   * (id, host), distinct (a host can match several list entries).
   */
  def domainBlocklist(docs: DataFrame, idCol: String, hostCol: String,
                      blocked: DataFrame, blockCol: String = "pattern"): DataFrame = {
    val labels = split(col(hostCol), "\\.")
    val sufs = transform(sequence(lit(1), size(labels)),
      i => array_join(slice(labels, i, size(labels) - i + 1), "."))
    docs.select(col(idCol), col(hostCol), explode(sufs).as("suf"))
      .join(blocked.select(col(blockCol).as("suf")), Seq("suf"), "left_semi")
      .select(col(idCol), col(hostCol)).distinct()
  }

  /**
   * The model half of [[dsirWeights]] as a standalone bucket-level table
   * (bucket, lr, lr0) — for consumers that train on one corpus and score
   * another (the streaming gate [[graft.streaming.StreamPipeline
   * .dsirGateStream]]). The same bag and [[logRatioModel]] dsirWeights
   * trains (target counts over all counts), so scoring the training
   * corpus through this model reproduces dsirWeights bit-for-bit. The table is
   * dim-bounded BY CONSTRUCTION (≤ dim rows — a parameter, not a corpus
   * property), which is what makes the one-row broadcast in the streaming
   * consumer safe at any corpus size.
   */
  def dsirModel(docs: DataFrame, idCol: String, textCol: String,
                isTarget: Column, dim: Int = 64): DataFrame = {
    require(dim > 0, "dim must be positive")
    dsirTrain(bagRows(docs, textCol, dim, isTarget.as("y")), dim)
  }

  /** Target-over-corpus log-ratios from a bag labelled `y`. */
  private def dsirTrain(bag: DataFrame, dim: Int): DataFrame =
    logRatioModel(bag, when(col("y"), col("n")).otherwise(0L), col("n"), dim)

  /**
   * KMV (k-minimum-values) distinct-count sketch, build half (Bar-Yossef
   * et al. 2002; Beyer et al. 2007, "On synopses for distinct-value
   * estimation"): per group, the k SMALLEST 48-bit token hashes. Unlike
   * HLL this sketch is exactly reproducible relationally (it is just a
   * per-group bottom-k), so the estimator sits under the cross-engine
   * oracle like any other operator — and it is MERGEABLE: the k smallest
   * of a union of per-group sketches equal the k smallest of the union
   * of the full sets ([[kmvMerge]]), which is what lets 10⁶ per-shard
   * sketch rows answer global-distinct questions without rescanning a
   * corpus. 48-bit hashes (12 md5 hex chars) are exact in DOUBLE (< 2⁵³)
   * on both engines; hash collisions merging two tokens are part of any
   * sketch's error budget.
   *
   * Plan: one tokenize scan → distinct (group, hv) → the skew-proof
   * salted bottom-k ([[topKPerGroupSalted]] — exact for any salt, the
   * largest sort partition bounded by |group|/salt). Output: (group, hv)
   * sketch rows, ≤ k per group.
   */
  def kmvSketch(docs: DataFrame, grpCol: String, textCol: String,
                k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val dv = docs.select(col(grpCol),
        explode(TextAnalysis.toks(col(textCol))).as("tok"))
      .select(col(grpCol),
        conv(substring(md5(col("tok")), 1, 12), 16, 10).cast("long")
          .as("hv"))
      .distinct()
    topKPerGroupSalted(dv, grpCol, col("hv"), salt = 4, k = k,
      col("hv").asc)
  }

  /**
   * KMV estimator over a [[kmvSketch]] table: per group,
   * est = (k−1) / h_(k) with h = (hv + 0.5)/2⁴⁸ (the k-th smallest
   * normalized hash), except a sketch with fewer than k values IS the
   * group's whole distinct set — the estimate is exact there. Relative
   * stderr ≈ 1/√(k−2). One group aggregate (max of the sketch = its k-th
   * smallest); 4dp output.
   */
  def kmvEstimate(sketch: DataFrame, grpCol: String, k: Int): DataFrame =
    sketch.groupBy(col(grpCol))
      .agg(count(lit(1)).as("n_sketch"), max(col("hv")).as("hk"))
      .select(col(grpCol), col("n_sketch"),
        TextAnalysis.pround4(
          when(col("n_sketch") < k, col("n_sketch").cast("double"))
            .otherwise(lit((k - 1).toDouble) /
              ((col("hk").cast("double") + 0.5) /
                lit(281474976710656.0)))) // 2^48
          .as("est_distinct"))

  /** KMV merge: the global sketch from per-group sketches — k smallest
    * of the deduplicated union (one TakeOrderedAndProject over ≤
    * groups·k short rows; never touches the corpus). Feed the result to
    * [[kmvEstimate]] under a constant group for the global estimate. */
  def kmvMerge(sketch: DataFrame, k: Int): DataFrame =
    sketch.select(col("hv")).distinct()
      .orderBy(col("hv").asc).limit(k)

  /**
   * Novel-n-gram memorization audit: for each NEW document, the fraction
   * of its distinct n-grams absent from the SEEN corpus — the
   * train-test-leakage / memorization-risk report (near-zero novelty
   * means the doc is effectively already in the training set even when
   * no dedup rule fired; the corpus-side complement of what
   * [[contamination]] measures against a benchmark). This REPORTS —
   * feed the fraction to a gate downstream.
   *
   * Plan: both sides shingle in their own scans; the seen side ships
   * only DISTINCT md5(gram) short keys (never text); one hash-keyed
   * left join marks membership, one per-doc roll-up aggregates. At
   * production scale the seen side is a STORED shingle index, not a
   * re-scan (the [[Dedup.writeSignatureIndex]] pattern). Docs with
   * fewer than n tokens have no n-grams and are absent (family
   * convention).
   */
  def novelNgramFraction(newDocs: DataFrame, seenDocs: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 3): DataFrame = {
    val newG = Dedup.shingles(newDocs, idCol, textCol, n)
      .select(col(idCol), md5(col("shingle")).as("h"))
    val seen = Dedup.shingles(seenDocs, idCol, textCol, n)
      .select(md5(col("shingle")).as("h")).distinct()
      .withColumn("seen", lit(1L))
    newG.join(seen, Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novel_frac", TextAnalysis.pround4(
        col("n_novel").cast("double") / col("n_grams")))
  }

  /**
   * PMI collocations — pointwise mutual information of ordered token
   * pairs co-occurring within a `window` skip distance (Church & Hanks
   * 1990): the distributional statistic behind phrase induction and
   * collocation mining.
   *
   *   pmi(x,y) = ln( (c_xy / P) / ((c_x/N)·(c_y/N)) )
   *
   * with c_xy the windowed ordered-pair count, c_x/c_y token occurrence
   * counts, P total pairs, N total tokens. Pairs below `minCount` are
   * dropped (rare-pair PMI is noise — the standard cut), output is the
   * top-`topK` by (pmi desc, x, y).
   *
   * Plan: pairs are built ARRAY-LOCALLY (positions × window — ≤
   * window·n per doc, linear, never the quadratic all-pairs of
   * unwindowed co-occurrence), ONE (x,y) partial-agg shuffle + one
   * unigram shuffle, marginal joins AQE-sized (token-vocab scale), then
   * TakeOrderedAndProject. 4dp ln output per the family convention.
   */
  def pmiCollocations(docs: DataFrame, textCol: String, window: Int = 2,
                      minCount: Long = 5L, topK: Int = 100): DataFrame = {
    require(window >= 1 && topK >= 1, "window and topK must be >= 1")
    val ts = TextAnalysis.toks(col(textCol))
    // (x, y) rows: for each position p and distance d in [1, window] —
    // native fused kernel (graft.functions.SkipgramPairs); the former
    // flatten/transform/element_at chain under the array() binding trick
    // was CodegenFallback, one interpreted lambda frame per (p, d)
    val pairsOf = graft.functions.NgramExprs.skipgramPairs(ts, window)
    val pairAgg = Staging( // feeds P (pre-cut, the true marginal) AND the rows
      docs.select(explode(pairsOf).as("pr"))
        .select(col("pr.x").as("x"), col("pr.y").as("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c_xy")))
    val pairRows = pairAgg.filter(col("c_xy") >= minCount)
    val uni = docs.select(explode(ts).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val totals = uni.agg(sum(col("c")).as("n_tokens"))
    val pairTotal = pairAgg.agg(sum(col("c_xy")).as("p_total"))
    pairRows
      .join(uni.select(col("tok").as("x"), col("c").as("cx")), Seq("x"))
      .join(uni.select(col("tok").as("y"), col("c").as("cy")), Seq("y"))
      .crossJoin(broadcast(totals)).crossJoin(broadcast(pairTotal))
      .select(col("x"), col("y"), col("c_xy"),
        TextAnalysis.pround4(
          log((col("c_xy").cast("double") / col("p_total")) /
            ((col("cx").cast("double") / col("n_tokens")) *
              (col("cy").cast("double") / col("n_tokens"))))).as("pmi"))
      .orderBy(col("pmi").desc, col("x"), col("y"))
      .limit(topK)
  }

  /**
   * Pairwise set similarity from KMV sketches ALONE (Beyer et al. 2007
   * §5): for groups A, B with bottom-k sketches L_A, L_B, the union
   * sketch L = k smallest of L_A ∪ L_B, and
   * Ĵ(A,B) = |L ∩ L_A ∩ L_B| / |L| — when the union has fewer than k
   * distinct hashes the estimate is EXACT (L is the whole union). This
   * is the sketch-algebra payoff: the full cross-source similarity
   * matrix costs O(groups²·k) sketch rows and never re-touches the
   * corpus (compare [[sourceOverlap]], which shuffles the shingle
   * table). At 10⁶ sources the pair space itself needs blocking (LSH on
   * sketch prefixes) or a fixed reference set — documented boundary;
   * the per-pair cost stays O(k) regardless.
   *
   * Plan: group list × group list (a < b) is a groups²-sized table;
   * each side joins its sketch rows, one (pair, hv) aggregate unions
   * membership, one per-pair window takes the k smallest (≤ 2k rows per
   * pair by construction — the window cannot skew). Output:
   * (source_a, source_b, n_union_sketch, n_both, est_jaccard).
   */
  def kmvPairJaccard(sketch: DataFrame, grpCol: String,
                     k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the sketch table feeds THREE branches (group list + both pair
    // sides); it is ≤ groups·k rows by construction, but its lineage is
    // the corpus tokenize/distinct/bottom-k — stage it once instead of
    // re-running that scan per branch
    val s = Staging(sketch.select(col(grpCol).as("g"), col("hv")))
    val gs = s.select(col("g")).distinct()
    val pairs = gs.select(col("g").as("source_a"))
      .join(gs.select(col("g").as("source_b")),
        col("source_a") < col("source_b"))
    val aRows = pairs.join(s, col("g") === col("source_a"))
      .select(col("source_a"), col("source_b"), col("hv"),
        lit(1L).as("in_a"), lit(0L).as("in_b"))
    val bRows = pairs.join(s, col("g") === col("source_b"))
      .select(col("source_a"), col("source_b"), col("hv"),
        lit(0L).as("in_a"), lit(1L).as("in_b"))
    val u = aRows.union(bRows)
      .groupBy(col("source_a"), col("source_b"), col("hv"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
    val w = Window.partitionBy(col("source_a"), col("source_b"))
      .orderBy(col("hv"))
    u.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_union_sketch"),
        sum(col("in_a") * col("in_b")).as("n_both"))
      .select(col("source_a"), col("source_b"), col("n_union_sketch"),
        col("n_both"),
        TextAnalysis.pround4(col("n_both").cast("double") /
          least(lit(k.toLong), col("n_union_sketch")))
          .as("est_jaccard"))
  }

  /**
   * Hashed Naive-Bayes document classifier, model half — the fastText
   * recipe (Joulin et al. 2016, "Bag of Tricks for Efficient Text
   * Classification") that CCNet/LLaMA-style pipelines run as the
   * "looks-like-Wikipedia" quality gate: multinomial NB over hashed
   * unigram features. Training is CLOSED-FORM — per-class hashed token
   * counts — so the whole fit is one scan-local bag + one dim-bounded
   * aggregate: no gradient loop, and the model is bounded BY
   * CONSTRUCTION (dim buckets, the [[dsirModel]] shape — never the
   * Heaps-law hazard of a raw-vocab model). w_b / w0 are
   * [[logRatioModel]]'s lr / lr0 with positive-class counts over
   * negative-class counts (Laplace; w0 is the OOV-bucket floor).
   *
   * Output: (bucket, w, w0), ≤ dim rows.
   */
  def nbcModel(docs: DataFrame, textCol: String, isPositive: Column,
               dim: Int = 64): DataFrame = {
    require(dim > 0, "dim must be positive")
    nbcTrain(bagRows(docs, textCol, dim, isPositive.as("y")), dim)
      .toDF("bucket", "w", "w0")
  }

  /** Class-conditional log-ratios from a bag labelled `y`. */
  private def nbcTrain(bag: DataFrame, dim: Int): DataFrame =
    logRatioModel(bag, when(col("y"), col("n")).otherwise(0L),
      when(!col("y"), col("n")).otherwise(0L), dim)

  /** The NB doc-count prior ln((n⁺+1)/(n⁻+1)) as one row (prior). */
  private[graft] def nbcPrior(docs: DataFrame, isPositive: Column): DataFrame =
    docs.agg(log((sum(when(isPositive, 1L).otherwise(0L)) + 1.0) /
      (sum(when(!isPositive, 1L).otherwise(0L)) + 1.0)).as("prior"))

  /**
   * Hashed Naive-Bayes scoring — trains [[nbcModel]] on the corpus's own
   * labels and scores every document:
   *
   *   score(d) = ln((n⁺+1)/(n⁻+1)) + Σ_b n_b(d)·w_b ;  positive iff > 0
   *
   * (doc-count prior + per-bucket multinomial log-likelihood ratio; the
   * prediction is taken on the 4dp-ROUNDED score so both engines agree
   * at the decision boundary). Plan: ONE scan-local bag table
   * ([[graft.Staging]]) feeds BOTH the model aggregate and the doc scores;
   * the model join back is broadcast BY CONSTRUCTION (dim rows), the
   * prior is a 1-row broadcast. Per-doc sums are DECIMAL(28,12)-exact
   * (order-independent; [[dsirWeights]] conventions throughout).
   * Token-less docs are absent (no features — the caller's gate decides
   * their fate).
   */
  def nbcScore(docs: DataFrame, idCol: String, textCol: String,
               isPositive: Column, dim: Int = 64): DataFrame = {
    require(dim > 0, "dim must be positive")
    val bag = Staging( // one scan feeds the model AND the doc scores
      bagRows(docs, textCol, dim, col(idCol), isPositive.as("y")))
    bag.join(broadcast(nbcTrain(bag, dim)), Seq("bucket")) // dim rows
      .groupBy(col(idCol))
      .agg(sum(col("n")).as("n_tokens"),
        sum((col("n") * col("lr")).cast("decimal(28,12)")).as("s"))
      .crossJoin(broadcast(nbcPrior(docs, isPositive)))
      .select(col(idCol), col("n_tokens"),
        TextAnalysis.pround4(col("s").cast("double") + col("prior"))
          .as("nb_score"))
      .withColumn("nb_pred", col("nb_score") > 0)
  }

  /**
   * Zipf rank-frequency slope — the corpus-statistics diagnostic: OLS
   * slope of ln(freq) on ln(rank) over the token vocabulary (healthy
   * natural-language crawls sit near −1; boilerplate/spam corpora drift
   * off it). One row out: (vocab_size, total_tokens, zipf_slope).
   *
   * Scale design — the naive plan global-sorts the vocab to assign ranks,
   * and under Heaps' law the vocab at 100 TB is ~10⁹ types: too big for
   * one partition. Ranks are instead assigned distributedly in three
   * bounded steps: (1) tokenize+count → vocab(tok, c) — the one corpus
   * shuffle; (2) frequency-of-frequency table (c, m) — at most O(√N)
   * rows since distinct counts summing to N number ≤ √(2N) (~6×10⁶ at
   * 2×10¹³ tokens), so its cumulative-offset window IS safe on one
   * partition; (3) rank = offset(c) + row_number within the c-partition
   * (distributed window), joined back AQE-sized (fof is tiny →
   * broadcast). Tie ordering inside a frequency class provably cannot
   * change the slope — y=ln(c) is constant within the class, so every
   * regression sum is permutation-invariant — the within-class order is
   * fixed (tok asc) only for rank-column determinism. pround4 on the
   * slope guards the engine-dependent double-sum association order.
   */
  def zipfSlope(docs: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = docs
      .select(explode(TextAnalysis.toks(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val fof = vocab.groupBy(col("c")).agg(count(lit(1)).as("m"))
    val wC = Window.orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = fof.select(col("c"),
      coalesce(sum(col("m")).over(wC), lit(0L)).as("offset"))
    val wIn = Window.partitionBy(col("c")).orderBy(col("tok"))
    val ranked = vocab.join(offsets, Seq("c"))
      .select(col("c"), (col("offset") + row_number().over(wIn)).as("rank"))
    val x = log(col("rank").cast("double"))
    val y = log(col("c").cast("double"))
    val n = count(lit(1)).cast("double")
    ranked.agg(
      count(lit(1)).as("vocab_size"),
      sum(col("c")).as("total_tokens"),
      pround4((n * sum(x * y) - sum(x) * sum(y)) /
        (n * sum(x * x) - sum(x) * sum(x))).as("zipf_slope"))
  }

  /**
   * Closed-form OLS fit, two features + intercept, via the normal
   * equations — the distributed "linear probe" of classic curation
   * stacks (quality regressors are linear models over cheap features;
   * fastText's classifier is a linear model): the whole corpus enters
   * through NINE moment sums computed in ONE map-side-combinable
   * aggregate — count, Σx₁, Σx₂, Σx₁², Σx₁x₂, Σx₂², Σy, Σx₁y, Σx₂y —
   * and the 3×3 system solves ON that single moment row by Cramer's
   * rule, still inside the plan. No gradient iterations, no corpus
   * re-scan, no driver-side math: at 100 TB this is one aggregate job
   * whatever the row count. Moment sums use exact DECIMAL(28,12)
   * accumulation (the [[Similarity.kmeansCentroids]] recipe) so the
   * fitted coefficients are order- and partitioning-independent —
   * bit-reproducible, oracle-checkable in any engine. The determinant
   * arithmetic runs in plain IEEE doubles with a FIXED operand order
   * mirrored exactly by the oracle SQL. One row out:
   * (n_rows, b0, b1, b2), betas 4dp. Degenerate designs (collinear
   * features → det 0) surface as null betas rather than a silent fit.
   */
  def olsFit(df: DataFrame, yCol: String, x1Col: String,
             x2Col: String): DataFrame = {
    def dsum(c: Column) = sum(c.cast("decimal(28,12)")).cast("double")
    val (x1, x2, y) = (col(x1Col), col(x2Col), col(yCol))
    val m = df.agg(
      count(lit(1)).cast("double").as("n"),
      dsum(x1).as("s1"), dsum(x2).as("s2"),
      dsum(x1 * x1).as("s11"), dsum(x1 * x2).as("s12"),
      dsum(x2 * x2).as("s22"),
      dsum(y).as("sy"), dsum(x1 * y).as("s1y"), dsum(x2 * y).as("s2y"))
    val (n, s1, s2) = (col("n"), col("s1"), col("s2"))
    val (s11, s12, s22) = (col("s11"), col("s12"), col("s22"))
    val (sy, s1y, s2y) = (col("sy"), col("s1y"), col("s2y"))
    // Cramer's rule on A = [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]],
    // b = [sy,s1y,s2y] — operand order is the oracle contract
    val det = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s12 - s11 * s2)
    val det0 = sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) +
      s2 * (s1y * s12 - s11 * s2y)
    val det1 = n * (s1y * s22 - s2y * s12) - sy * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s2y - s1y * s2)
    val det2 = n * (s11 * s2y - s12 * s1y) - s1 * (s1 * s2y - s1y * s2) +
      sy * (s1 * s12 - s11 * s2)
    m.select(n.cast("long").as("n_rows"),
      when(det =!= 0.0, pround4(det0 / det)).as("b0"),
      when(det =!= 0.0, pround4(det1 / det)).as("b1"),
      when(det =!= 0.0, pround4(det2 / det)).as("b2"))
  }

  /**
   * Score rows with an [[olsFit]] model: ŷ = b0 + b1·x1 + b2·x2 and the
   * residual y − ŷ, both 4dp. The fit is ONE row (the model — broadcast
   * by construction via crossJoin, the scalar-model seam used throughout);
   * scoring is scan-local arithmetic, zero shuffles beyond the scan.
   * Scores use the PUBLISHED (4dp-rounded) betas — the model's output
   * contract — so training and scoring can run in different engines.
   */
  def olsScore(df: DataFrame, idCol: String, yCol: String, x1Col: String,
               x2Col: String, fit: DataFrame): DataFrame = {
    val yhat = col("b0") + col("b1") * col(x1Col) + col("b2") * col(x2Col)
    df.crossJoin(broadcast(fit.select(col("b0"), col("b1"), col("b2"))))
      .select(col(idCol), pround4(yhat).as("y_hat"),
        pround4(col(yCol) - yhat).as("residual"))
  }
}
