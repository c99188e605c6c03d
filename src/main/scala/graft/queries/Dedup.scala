package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deduplication operators over `documents` (BASELINE.json north star):
  * exact, n-gram Jaccard, MinHash+LSH, SimHash — each oracle-checked
  * against the identical algorithm in DuckDB SQL.
  *
  * Portability note: every hash is `md5` (identical hex in both engines)
  * and minhashes are STRING minima of md5 values — a random permutation
  * proxy that needs no engine-specific 64-bit hash. Cross-engine float
  * hazards are avoided by keeping similarity arithmetic in exact integer
  * counts until a final double division (IEEE-identical).
  *
  * Scale notes (100 TB): the shapes here are the standard distributed
  * ones —
  *  - exact dedup: one hash-aggregate shuffle on the content hash;
  *  - Jaccard: explode to (shingle, doc) postings, drop super-common
  *    shingles (frequency cap — the classic stopword-shingle suppression
  *    that bounds the quadratic candidate join), self-join postings,
  *    count intersections; all joins are on the shingle/pair keys, no
  *    cross join anywhere;
  *  - MinHash+LSH: fixed-width signature per doc (one aggregate), then a
  *    candidate join per band bucket — the join key is the band hash, so
  *    candidate generation is linear in bucket sizes, never all-pairs;
  *  - SimHash: 32-bit fingerprint per doc; candidate pairs join on equal
  *    16-bit fingerprint bands (pigeonhole: hamming ≤ 1 ⇒ one band equal),
  *    hamming-verified within buckets — never all-pairs.
  */
object Dedup {

  /** D1: exact dedup on the normalized content hash — canonical doc = min
    * doc_id per group (the survivor list a pretraining pipeline keeps).
    */
  val exact = Q("d1_exact_dedup",
    """SELECT md5(lower(text)) AS content_hash,
      |       min(doc_id) AS canonical_doc, count(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .groupBy(md5(lower($"text")).as("content_hash"))
        .agg(min($"doc_id").as("canonical_doc"), count(lit(1)).as("n_copies"))
  }

  /** Distinct word-3-gram shingles per doc, as `(doc_id, shingle)`
    * postings.
    */
  private def shingles(s: SparkSession, dir: String): DataFrame =
    // distinct WITHIN the doc (set semantics, no shuffle); short-doc guard
    // lives in Ngrams.postings — the one shared generator.
    // NOT memoized/cached at this grain — r13 measured it both ways: an
    // InMemoryTableScan over the 1M-row postings costs MORE per consumer
    // than re-running the (spread-parallelized) explode (d23 0.41 s
    // uncached vs 1.8 s through a materialized memo; OPTIMIZATION_r13.md),
    // so consumers either recompute in parallel or cache a PRUNED subset
    // (d14's probe prefix, d23's pair-doc semi-join).
    Ngrams.postings(Tables.documents(s, dir), n = 3, distinct = true,
      outCol = "shingle")

  /** Shingle postings with the per-doc distinct-shingle count CARRIED as
    * a column (`sz` ≡ the per-doc row count of [[shingles]], computed
    * from the pre-explode array at zero cost). The d2/d13/d14 consumers
    * fold it with max() inside their pair aggregates instead of
    * re-aggregating the exploded postings into a `sizes` table and
    * joining it back twice — one less full-postings shuffle, two fewer
    * joins per query (r14; the mb1/e26 carried-stats idiom, guide §2.4).
    */
  private def shinglesWithSize(s: SparkSession, dir: String): DataFrame =
    Ngrams.postingsWithSize(Tables.documents(s, dir), n = 3, outCol = "shingle")

  private val shinglesSql =
    """SELECT doc_id, shingle
      |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |     unnest(list_distinct([array_to_string(w[i:i+2], ' ')
      |             for i in generate_series(1, greatest(len(w) - 2, 0))])) AS t(shingle)""".stripMargin

  /** D2: n-gram Jaccard near-dup pairs. Candidate pairs share ≥1
    * non-ubiquitous shingle (docs-per-shingle cap 15); Jaccard =
    * |A∩B| / (|A|+|B|−|A∩B|) over distinct shingle sets, τ = 0.35.
    */
  val jaccard = Q("d2_ngram_jaccard",
    s"""WITH sh AS ($shinglesSql),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |rare AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 15),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM sh a JOIN rare r ON a.shingle = r.shingle
       |       JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT p.doc_a, p.doc_b, p.inter,
       |       CAST(p.inter AS DOUBLE) / (sa.sz + sb.sz - p.inter) AS jaccard
       |FROM pairs p
       |JOIN sizes sa ON p.doc_a = sa.doc_id
       |JOIN sizes sb ON p.doc_b = sb.doc_id
       |WHERE CAST(p.inter AS DOUBLE) / (sa.sz + sb.sz - p.inter) >= 0.35""".stripMargin) {
    (s, dir) => jaccardPairs(s, dir)
  }

  /** The exact n-gram-Jaccard pair table (τ = 0.35), memoized per
    * (session, dir) — d2 returns it and d22's blocking audit filters it
    * to its τ = 0.5 reference truth (exact Jaccard ≥ 0.5 ⊂ ≥ 0.35, so
    * the filter is equivalent to recomputing at the higher threshold).
    */
  def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, dir, "d2_pairs") {
      import s.implicits._
      val sh = shinglesWithSize(s, dir).cache()
      val rare = sh.groupBy($"shingle").agg(count(lit(1)).as("df"))
        .filter($"df" <= 15).select($"shingle")
      // pair generation as a postings self-join keyed on the shingle —
      // measured FASTER than the collect_list + combinations-explode
      // alternative (3.1 s vs 2.2 s at sf0.1: the codegen'd hash join
      // beats per-group array allocation); the frequency cap bounds the
      // join expansion at Σ df² over rare shingles at any scale.
      // Per-doc sizes RIDE the postings into the join (max() folds the
      // per-group constant) — no sizes aggregate, no joins back (r14)
      val a = sh.join(rare, "shingle")
        .select($"shingle", $"doc_id".as("doc_a"), $"sz".as("sza"))
      val b = sh.select($"shingle".as("shingle_b"), $"doc_id".as("doc_b"),
        $"sz".as("szb"))
      val pairs = a.join(b, $"shingle" === $"shingle_b" && $"doc_a" < $"doc_b")
        .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("inter"),
          max($"sza").as("sza"), max($"szb").as("szb"))
      val jac = $"inter".cast("double") / ($"sza" + $"szb" - $"inter")
      pairs
        .select($"doc_a", $"doc_b", $"inter", jac.as("jaccard"))
        .filter($"jaccard" >= 0.35)
    }

  val numHashes = 12
  val bandSize = 4 // 3 bands of 4 → catches pairs with jaccard ≳ 0.5

  /** D3: MinHash + LSH banding. The 12 signature components are
    * non-overlapping 5-hex-char windows over TWO md5 digests per shingle
    * (md5(s) ‖ md5('x|'+s) = 64 hex chars → 12×5) — 6× less hashing than
    * one digest per component, same random-permutation behavior (distinct
    * windows of a mixing hash are independent); component i = the string
    * MIN of window i over the doc's shingles. Band key = md5 of 4
    * consecutive components; candidates share a band; verified by the
    * signature-agreement estimate ≥ 0.5.
    */
  /** d3's oracle SQL, split into (CTE list, final SELECT) so
    * `d5_dup_clusters` can reuse the pair derivation inside its own
    * recursive-CTE connected-components query.
    */
  private[graft] val minhashCtes: String = {
    val comps = (0 until numHashes)
      .map(i => s"min(substr(h2, ${i * 5 + 1}, 5)) AS mh$i").mkString(", ")
    val bands = (0 until numHashes / bandSize).map { b =>
      val cols = (b * bandSize until (b + 1) * bandSize).map(i => s"mh$i").mkString(" || '|' || ")
      s"md5($cols) AS band$b"
    }.mkString(", ")
    val bandRows = (0 until numHashes / bandSize)
      .map(i => s"SELECT doc_id, $i AS band_idx, band$i AS band_key FROM sigs")
      .mkString(" UNION ALL ")
    s"""sh AS ($shinglesSql),
       |hashed AS (SELECT doc_id, md5(shingle) || md5('x|' || shingle) AS h2 FROM sh),
       |sig0 AS (SELECT doc_id, $comps FROM hashed GROUP BY doc_id),
       |sigs AS (SELECT *, $bands FROM sig0),
       |bandrows AS ($bandRows),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bandrows x JOIN bandrows y
       |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
       |   AND x.doc_id < y.doc_id)""".stripMargin
  }

  private[graft] val minhashSelect: String = {
    val agree = (0 until numHashes)
      .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""SELECT c.doc_a, c.doc_b,
       |       CAST($agree AS DOUBLE) / $numHashes AS est_jaccard
       |FROM cand c JOIN sigs a ON c.doc_a = a.doc_id
       |            JOIN sigs b ON c.doc_b = b.doc_id
       |WHERE CAST($agree AS DOUBLE) / $numHashes >= 0.5""".stripMargin
  }

  /** The verified MinHash+LSH near-dup pair list, memoized per
    * (session, dir): `d3_minhash_lsh` returns it and `d5_dup_clusters`
    * clusters it — the expensive signature/banding work runs once per
    * session, not once per consumer.
    */
  /** The per-doc MinHash signature + band-key table, memoized — shared by
    * the candidate step, the verify step, and d22's blocking audit.
    */
  def minhashSigs(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, dir, "d3_sigs") {
      import s.implicits._
      val sh = shingles(s, dir)
        .select($"doc_id",
          concat(md5($"shingle"), md5(concat(lit("x|"), $"shingle"))).as("h2"))
      val comps = (0 until numHashes).map(i =>
        min(substring($"h2", i * 5 + 1, 5)).as(s"mh$i"))
      sh.groupBy($"doc_id").agg(comps.head, comps.tail: _*)
        .select(col("*") +: (0 until numHashes / bandSize).map { b =>
          md5(concat_ws("|",
            (b * bandSize until (b + 1) * bandSize).map(i => col(s"mh$i")): _*)).as(s"band$b")
        }: _*)
    }

  /** The UNVERIFIED band-bucket candidate pairs (doc_a < doc_b, distinct)
    * — what LSH blocking alone proposes, BEFORE the signature-agreement
    * verify. Memoized separately because it is both the verify step's
    * input and the quantity d22's blocking-quality audit measures (the
    * reduction-ratio side of the Fellegi–Sunter blocking literature).
    */
  def bandCandidates(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, dir, "d3_band_cands") {
      import s.implicits._
      val sigs = minhashSigs(s, dir)
      val bandRows = (0 until numHashes / bandSize).map { i =>
        sigs.select($"doc_id", lit(i).as("band_idx"), col(s"band$i").as("band_key"))
      }.reduce(_ unionByName _)
      bandRows.toDF("doc_a", "band_idx", "band_key")
        .join(bandRows.toDF("doc_b", "band_idx", "band_key"), Seq("band_idx", "band_key"))
        .filter($"doc_a" < $"doc_b")
        .select($"doc_a", $"doc_b").distinct()
    }

  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, dir, "d3_pairs") {
      import s.implicits._
      val sigs = minhashSigs(s, dir)
      val agree = (0 until numHashes)
        .map(i => when(col(s"a.mh$i") === col(s"b.mh$i"), 1).otherwise(0))
        .reduce(_ + _)
      bandCandidates(s, dir)
        .join(sigs.as("a"), $"doc_a" === $"a.doc_id")
        .join(sigs.as("b"), $"doc_b" === $"b.doc_id")
        .select($"doc_a", $"doc_b",
          (agree.cast("double") / numHashes).as("est_jaccard"))
        .filter($"est_jaccard" >= 0.5)
    }

  val minhashLsh = Q("d3_minhash_lsh", s"WITH $minhashCtes\n$minhashSelect") {
    (s, dir) => minhashPairs(s, dir)
  }

  /** Production MinHash+LSH — the engine-default fast path: signature
    * component i = min over shingles of the 64-bit integer
    * `xxhash64(i, shingle)` (one seeded hash per component, no hex
    * strings), band key = `xxhash64` of the band's 4 components. Identical
    * plan shape to [[minhashPairs]] (per-doc aggregate → band-bucket
    * equi-join → signature verify) at a fraction of the CPU: integer
    * min/compare/hash instead of md5 hex substrings and string minima.
    *
    * The md5 variant exists ONLY because cross-engine verification needs a
    * hash both Spark and DuckDB compute bit-identically; DuckDB has no
    * xxhash64, so this variant is gated by pair-set agreement with the md5
    * variant (DedupFastSpec) + a rows-only driver row, not a SQL oracle.
    */
  def minhashPairsFast(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, dir, "d3_pairs_fast") {
      import s.implicits._
      val sh = shingles(s, dir)
      val comps = (0 until numHashes).map(i =>
        min(xxhash64(lit(i), $"shingle")).as(s"mh$i"))
      val sigs = sh.groupBy($"doc_id").agg(comps.head, comps.tail: _*)
        .select(col("*") +: (0 until numHashes / bandSize).map { b =>
          xxhash64(lit(b) +:
            (b * bandSize until (b + 1) * bandSize).map(i => col(s"mh$i")): _*).as(s"band$b")
        }: _*)
        .cache()
      val bandRows = (0 until numHashes / bandSize).map { i =>
        sigs.select($"doc_id", lit(i).as("band_idx"), col(s"band$i").as("band_key"))
      }.reduce(_ unionByName _)
      val cand = bandRows.toDF("doc_a", "band_idx", "band_key")
        .join(bandRows.toDF("doc_b", "band_idx", "band_key"), Seq("band_idx", "band_key"))
        .filter($"doc_a" < $"doc_b")
        .select($"doc_a", $"doc_b").distinct()
      val agree = (0 until numHashes)
        .map(i => when(col(s"a.mh$i") === col(s"b.mh$i"), 1).otherwise(0))
        .reduce(_ + _)
      cand
        .join(sigs.as("a"), $"doc_a" === $"a.doc_id")
        .join(sigs.as("b"), $"doc_b" === $"b.doc_id")
        .select($"doc_a", $"doc_b",
          (agree.cast("double") / numHashes).as("est_jaccard"))
        .filter($"est_jaccard" >= 0.5)
    }

  /** Driver gate for the fast path — the a7 boolean-contract idiom
    * (sketch encodings aren't cross-engine, so emit the CONTRACT as
    * booleans the oracle asserts literally TRUE): one summary row with
    * the md5 pair count (exact, oracle-recomputed) plus recall /
    * precision / set-agreement ≥ 0.85 of the xxhash64 pair set against
    * the md5 pair set. A fast-path regression (wrong seed plumbing, band
    * mis-keying, threshold drift) flips a boolean and reds the hash gate;
    * the tighter numeric assertions stay in DedupFastSpec. Cost note:
    * both pair lists are session-memoized ([[minhashPairs]] /
    * [[minhashPairsFast]]), so this gate reuses d3's work and adds one
    * full-outer join over two ~|near-dup| pair lists — trivial at any
    * scale (the pair lists are the small output, not the corpus).
    */
  val minhashLshFast = Q("d3f_minhash_fast",
    s"""WITH $minhashCtes,
       |pairs AS ($minhashSelect)
       |SELECT CAST(count(*) AS BIGINT) AS n_md5_pairs,
       |       TRUE AS fast_nonempty,
       |       TRUE AS md5_recall_ge_85,
       |       TRUE AS fast_precision_ge_85,
       |       TRUE AS pair_agreement_ge_85
       |FROM pairs""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val md5P = minhashPairs(s, dir)
        .select($"doc_a", $"doc_b").withColumn("in_md5", lit(1))
      val fastP = minhashPairsFast(s, dir)
        .select($"doc_a", $"doc_b").withColumn("in_fast", lit(1))
      md5P.join(fastP, Seq("doc_a", "doc_b"), "full_outer")
        .agg(
          sum(coalesce($"in_md5", lit(0))).as("n_md5"),
          sum(coalesce($"in_fast", lit(0))).as("n_fast"),
          sum(when($"in_md5" === 1 && $"in_fast" === 1, 1).otherwise(0)).as("n_both"),
          count(lit(1)).as("n_union"))
        .select(
          $"n_md5".cast("long").as("n_md5_pairs"),
          ($"n_fast" > 0).as("fast_nonempty"),
          ($"n_both" >= $"n_md5" * 0.85).as("md5_recall_ge_85"),
          ($"n_both" >= $"n_fast" * 0.85).as("fast_precision_ge_85"),
          ($"n_both" >= $"n_union" * 0.85).as("pair_agreement_ge_85"))
  }

  /** The merged removable word spans behind `d11_exact_substr`:
    * `(doc_id, span_start, span_end)` — every maximal word interval
    * covered by cross-document duplicated 8-grams (1-based, inclusive).
    * Exposed so LlmOpsSpec can actually REMOVE the spans and assert the
    * post-removal corpus is duplicate-span-free.
    *
    * Shape: occurrence-level postings with positions (one explode), the
    * duplicated-gram set (one hash-agg on the gram, as t19), an equi-join
    * back to occurrences, then interval-merge per doc — one window sorted
    * by position within each doc partition (the classic cumulative-max
    * new-group trick) and one aggregate. Linear in corpus n-grams; no
    * self-join; the per-doc sort is bounded by doc length.
    */
  def removableSpans(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val g = Ngrams.postingsWithPos(Tables.documents(s, dir), n = 8, outCol = "g")
    // cross-doc duplication test as a gram-partitioned window (min ≠ max
    // doc_id ⟺ >1 distinct doc) over the SINGLE explode — the aggregate
    // joined back re-derived the explode on both shuffle sides (the
    // t28/e32 double-eval class, r11)
    val byG = Window.partitionBy($"g")
    val hits = g
      .withColumn("dup", min($"doc_id").over(byG) =!= max($"doc_id").over(byG))
      .filter($"dup")
      .select($"doc_id", $"pos".as("s"), ($"pos" + 7).as("e"))
    val byPos = Window.partitionBy($"doc_id").orderBy($"s")
    val pmax = max($"e").over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("new_grp", when(pmax.isNull || $"s" > pmax, 1).otherwise(0))
      .withColumn("gid", sum($"new_grp")
        .over(byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"doc_id", $"gid")
      .agg(min($"s").as("span_start"), max($"e").as("span_end"))
      .select($"doc_id", $"span_start", $"span_end")
  }

  /** D11: exact-substring dedup (the ExactSubstr family of Lee et al.
    * 2022, arXiv:2107.06499) — t19 *measures* the duplicated-span mass;
    * this operator marks what to REMOVE: per doc, the merged word
    * intervals covered by any cross-document duplicated 8-gram, as a
    * canonical `start-end;…` span list plus exact removal counts. A
    * maximal duplicated run of grams i…j covers words i…j+7; merging the
    * per-occurrence intervals [i, i+7] yields exactly those maximal
    * spans (adjacent duplicated grams overlap by 7 words, so runs fuse).
    *
    * No global suffix array anywhere — the duplicated-gram set is one
    * aggregate, extension is the per-doc interval merge. All counts are
    * integers, the span list is an integer-rendered string, and the
    * fraction is one IEEE division — hash-exact across engines.
    */
  val exactSubstr = Q("d11_exact_substr",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id, u['pos'] AS pos, u['g'] AS g
      |      FROM (SELECT doc_id, unnest([{'pos': i, 'g': array_to_string(w[i:i+7], ' ')}
      |                   for i in generate_series(1, greatest(len(w) - 7, 0))]) AS u
      |            FROM w)),
      |du AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd FROM g GROUP BY g)
      |       WHERE nd > 1),
      |hits AS (SELECT doc_id, pos AS s, pos + 7 AS e FROM g JOIN du USING (g)),
      |m AS (SELECT doc_id, s, e,
      |        max(e) OVER (PARTITION BY doc_id ORDER BY s
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |      FROM hits),
      |grp AS (SELECT doc_id, s, e,
      |          sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
      |            OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS gid
      |        FROM m),
      |spans AS (SELECT doc_id, gid, min(s) AS span_start, max(e) AS span_end
      |          FROM grp GROUP BY doc_id, gid),
      |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      |          CAST(sum(span_end - span_start + 1) AS BIGINT) AS n_removed_words,
      |          string_agg(span_start || '-' || span_end, ';' ORDER BY span_start) AS spans
      |        FROM spans GROUP BY doc_id),
      |lens AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
      |         FROM documents)
      |SELECT l.doc_id, l.n_words,
      |       coalesce(p.n_spans, 0) AS n_spans,
      |       coalesce(p.n_removed_words, 0) AS n_removed_words,
      |       coalesce(p.spans, '') AS spans,
      |       CAST(coalesce(p.n_removed_words, 0) AS DOUBLE) / l.n_words AS removed_fraction
      |FROM lens l LEFT JOIN per p USING (doc_id)""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val per = removableSpans(s, dir)
        .groupBy($"doc_id")
        .agg(
          count(lit(1)).as("n_spans"),
          sum($"span_end" - $"span_start" + 1).as("n_removed_words"),
          array_join(
            transform(
              array_sort(collect_list(struct($"span_start", $"span_end"))),
              x => concat(x.getField("span_start").cast("string"), lit("-"),
                x.getField("span_end").cast("string"))), ";").as("spans"))
      Tables.documents(s, dir)
        .select($"doc_id", size(split($"text", " ")).cast("long").as("n_words"))
        .join(per, Seq("doc_id"), "left")
        .select($"doc_id", $"n_words",
          coalesce($"n_spans", lit(0L)).as("n_spans"),
          coalesce($"n_removed_words", lit(0L)).as("n_removed_words"),
          coalesce($"spans", lit("")).as("spans"),
          (coalesce($"n_removed_words", lit(0L)).cast("double") / $"n_words")
            .as("removed_fraction"))
  }

  /** D4: 32-bit SimHash from per-word md5 bits: fingerprint bit j is the
    * sign of Σ±1 votes over the doc's words; near-dup pairs have hamming
    * distance ≤ 1 — the two 16-bit bands guarantee recall exactly up to
    * that radius. (64-bit at scale; 32 keeps the oracle SQL tractable.)
    */
  val simhash = Q("d4_simhash", {
    // hex digit d of md5(word) → 4 bits; value via strpos table lookup.
    // 32-bit fingerprint (r5): the original 16-bit space capped each
    // band at 256 buckets, so in-bucket verify pairs grew quadratically
    // once the corpus outgrew the bucket count — the 10× soak measured
    // exponent 1.32. 32 bits / two 16-bit bands keep buckets ahead of
    // any plausible shard size (65 536 per band).
    def digit(d: Int) = s"(strpos('0123456789abcdef', substr(md5(w), ${d + 1}, 1)) - 1)"
    val bits = (0 until 32).map { j =>
      val v = digit(j / 4); val b = 3 - (j % 4)
      s"CASE WHEN ($v >> $b) & 1 = 1 THEN 1 ELSE -1 END AS v$j"
    }.mkString(", ")
    val fp = (0 until 32)
      .map(j => s"(CAST(CASE WHEN sum(v$j) > 0 THEN 1 ELSE 0 END AS BIGINT) << $j)")
      .mkString(" + ")
    s"""WITH wordbits AS (
       |  SELECT doc_id, $bits
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)),
       |fp AS (SELECT doc_id, $fp AS fingerprint FROM wordbits GROUP BY doc_id)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.fingerprint, b.fingerprint)) AS BIGINT) AS hamming
       |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= 1""".stripMargin
  }) {
    (s, dir) =>
      import s.implicits._
      // r14: votes are computed per DISTINCT (doc, word), weighted by the
      // occurrence count — Σ_occurrences vote ≡ Σ_distinct vote·cnt, exact
      // integer arithmetic. Text repeats words (Zipf at scale; the 31-word
      // synthetic vocab here), so the md5 + 32-bit-vote projection (the
      // query's dominant compute and allocation churn — the driver's
      // 32-core GC blowup, VERDICT r13 item 1) runs once per distinct
      // word per doc instead of once per token, and the (doc, w)
      // aggregate is map-side combinable where the fat projection wasn't.
      val wordRows = Tables.spread(Tables.documents(s, dir).select($"doc_id", $"text"))
        .select($"doc_id", explode(split($"text", " ")).as("w"))
        .groupBy($"doc_id", $"w").agg(count(lit(1)).as("cnt"))
        .select($"doc_id", $"cnt", md5($"w").as("h"))
        .select(col("doc_id") +: (0 until 32).map { j =>
          val v = conv(substring($"h", j / 4 + 1, 1), 16, 10).cast("int")
          (when(shiftright(v, 3 - (j % 4)).bitwiseAND(1) === 1, 1L).otherwise(-1L)
            * $"cnt").as(s"v$j")
        }: _*)
      val fp = wordRows.groupBy($"doc_id")
        .agg((0 until 32).map(j => sum(col(s"v$j")).as(s"s$j")).head,
             (0 until 32).map(j => sum(col(s"v$j")).as(s"s$j")).tail: _*)
        .select($"doc_id",
          (0 until 32).map(j =>
            shiftleft(when(col(s"s$j") > 0, 1L).otherwise(0L), j))
            .reduce(_ + _).as("fingerprint"))
      // Pigeonhole blocking: split the 32-bit fingerprint into two 16-bit
      // bands — any pair at hamming ≤ 1 differs in at most one band, so it
      // agrees EXACTLY on the other ⇒ every qualifying pair meets in an
      // equal-band bucket. Candidate generation is a hash equi-join on
      // (band_idx, band_key) — linear in bucket sizes, never all-pairs —
      // and the hamming verify runs only inside buckets. The DuckDB oracle
      // keeps the all-pairs formulation (exact by construction); blocking
      // changes the plan, not the result set.
      // fp cached (r13): it feeds BOTH sides of the banded self-join —
      // without the cache the whole explode + 32-column bit-vote
      // aggregate (the query's dominant compute) ran twice (guide §2.4)
      val fpC = fp.cache()
      val banded = fpC
        .select($"doc_id", $"fingerprint",
          posexplode(array(
            $"fingerprint".bitwiseAND(lit(65535L)),
            shiftright($"fingerprint", 16).bitwiseAND(lit(65535L)))))
        .toDF("doc_id", "fingerprint", "band_idx", "band_key")
      // dedup-at-generation (r13): a pair agreeing on BOTH bands used to
      // surface twice and be deduped by a full `distinct()` shuffle;
      // emitting it only in the FIRST agreeing band (band 1 requires
      // band-0 disagreement) makes each candidate unique by construction
      // and drops the exchange (the j10 first-bucket idiom, guide §2.4)
      val cand = banded.toDF("doc_a", "fp_a", "band_idx", "band_key")
        .join(banded.toDF("doc_b", "fp_b", "band_idx", "band_key"),
          Seq("band_idx", "band_key"))
        .filter($"doc_a" < $"doc_b"
          && ($"band_idx" === 0
            || $"fp_a".bitwiseAND(lit(65535L)) =!= $"fp_b".bitwiseAND(lit(65535L))))
        .select($"doc_a", $"doc_b", $"fp_a", $"fp_b")
      cand
        .select($"doc_a", $"doc_b",
          bit_count($"fp_a".bitwiseXOR($"fp_b")).cast("long").as("hamming"))
        .filter($"hamming" <= 1)
  }

  /** D6: benchmark decontamination — flag training docs sharing any
    * 8-gram with the held-out eval split (source = 'src0' stands in for
    * the benchmark set). The standard n-gram-overlap decontamination
    * pass: explode eval 8-grams (small side), hash-join against train
    * 8-grams, aggregate per train doc. Train-side postings never
    * self-join — cost is linear in train n-grams.
    */
  private def ngrams8(who: String) =
    s"""SELECT doc_id, unnest(list_distinct([array_to_string(w[i:i+7], ' ')
       |        for i in generate_series(1, greatest(len(w) - 7, 0))])) AS g
       |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |      WHERE source $who 'src0')""".stripMargin

  private val contaminationSql =
    s"""WITH eval_g AS (SELECT DISTINCT g FROM (${ngrams8("=")})),
       |train_g AS (${ngrams8("<>")})
       |SELECT t.doc_id AS train_doc,
       |       count(*) AS n_shared_ngrams
       |FROM train_g t JOIN eval_g e ON t.g = e.g
       |GROUP BY t.doc_id""".stripMargin

  /** (doc_id, 8-gram) postings for one side of the decontamination split
    * (short-doc guard in [[Ngrams.postings]]).
    */
  private def grams8(df: DataFrame): DataFrame =
    Ngrams.postings(df, n = 8, distinct = true, outCol = "g")

  /** The distinct eval-side 8-gram set, session-memoized ([[Memo]]): d6
    * and d6b probe the same benchmark set, so the first of the two
    * materializes it and the other reuses the persisted copy.
    */
  private def evalGrams(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    Memo.cached(s, dir, "d6_eval_grams") {
      grams8(Tables.documents(s, dir).filter($"source" === "src0"))
        .select($"g").distinct()
    }
  }

  val contamination = Q("d6_contamination", contaminationSql) {
    (s, dir) =>
      import s.implicits._
      val evalG = evalGrams(s, dir)
      val trainG = grams8(Tables.documents(s, dir).filter($"source" =!= "src0"))
      trainG.join(broadcast(evalG), "g")
        .groupBy($"doc_id".as("train_doc"))
        .agg(count(lit(1)).as("n_shared_ngrams"))
  }

  /** D6b: the same decontamination with a broadcast BLOOM pre-filter on
    * the train postings — the shape that wins at 100 TB: the sketch of the
    * eval n-grams (KBs) reaches every scan task as a literal, and
    * `bloom_might_contain` drops ~all clean postings at scan speed BEFORE
    * the shuffle/join; the exact join then removes false positives, so the
    * result — and the oracle — are identical to d6. At test SF the bloom
    * costs more than it saves (tiny corpus); the point is the plan.
    */
  val contaminationBloom = Q("d6b_bloom_contamination", contaminationSql) {
    (s, dir) =>
      import s.implicits._
      val evalG = evalGrams(s, dir)
      // the sketch build is an eager aggregation — memoize the bytes so
      // repeat constructions of this query (bench min-of-2) skip it
      val bloom = lit(Memo.cachedValue(s, dir, "d6b_bloom_bytes") {
        graft.functions.BloomFilters.bloomBytes(
          evalG, $"g", expectedItems = 100000L, fpp = 0.01)
      })
      val trainG = grams8(Tables.documents(s, dir).filter($"source" =!= "src0"))
      trainG
        .filter(call_function("bloom_might_contain", bloom, xxhash64($"g")))
        .join(broadcast(evalG), "g")
        .groupBy($"doc_id".as("train_doc"))
        .agg(count(lit(1)).as("n_shared_ngrams"))
  }

  /** D7: blocked fuzzy matching (entity resolution): customer-name pairs
    * within edit distance 1 — the typo'd-identifier shape. The standard
    * blocking→verify ER pattern with a deliberate prefix block (name
    * minus its final character): candidate pairs only form inside a
    * block, so block size — not corpus size — bounds the quadratic
    * verify (≤ alphabet-size per block at ANY scale factor). Levenshtein
    * is exact integer arithmetic → cross-engine-safe.
    */
  val fuzzyMatch = Q("d7_fuzzy_match",
    """WITH c AS (
      |  SELECT c_custkey, c_name,
      |         substr(c_name, 1, length(c_name) - 1) AS blk
      |  FROM customer)
      |SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
      |       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist
      |FROM c a JOIN c b
      |  ON a.blk = b.blk AND a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val c = Tables.customer(s, dir)
        .select($"c_custkey", $"c_name",
          expr("substr(c_name, 1, length(c_name) - 1)").as("blk"))
      requireBlockedPairsUnderCap(c, "blk", "d7_fuzzy_match",
        memo = Some((s, dir, "customer_blk_pairs")))
      val a = c.select($"blk", $"c_custkey".as("cust_a"), $"c_name".as("name_a"))
      val b = c.select($"blk".as("blk_b"), $"c_custkey".as("cust_b"), $"c_name".as("name_b"))
      a.join(b, $"blk" === $"blk_b" && $"cust_a" < $"cust_b")
        .select($"cust_a", $"cust_b",
          levenshtein($"name_a", $"name_b").as("edit_dist"))
        .filter($"edit_dist" <= 1)
  }

  /** D8: FUZZY decontamination — the near-duplicate complement of d6's
    * exact 8-gram overlap: flag training docs whose MinHash signature
    * agrees ≥ 0.5 with some eval (`src0`) doc, i.e. paraphrased or
    * lightly-edited benchmark leakage that exact n-gram matching misses.
    *
    * The pair derivation IS the memoized d3 pair list (band-bucketed,
    * never all-pairs, shared with d3/d5 per session) restricted to
    * CROSS-split pairs by a doc→split join; output is one row per
    * contaminated train doc with its eval-match count and strongest
    * estimated Jaccard. Asymmetric decontamination at 100 TB runs the
    * same shape with the eval side's band rows broadcast (it is tiny);
    * here the shared pair list already exists, so reusing it is the
    * cheaper plan.
    */
  val fuzzyDecontamination = Q("d8_fuzzy_decontam",
    s"""WITH $minhashCtes,
       |pairs AS ($minhashSelect),
       |src AS (SELECT doc_id, source = 'src0' AS is_eval FROM documents),
       |xp AS (
       |  SELECT CASE WHEN sa.is_eval THEN p.doc_b ELSE p.doc_a END AS train_doc,
       |         p.est_jaccard
       |  FROM pairs p JOIN src sa ON p.doc_a = sa.doc_id
       |               JOIN src sb ON p.doc_b = sb.doc_id
       |  WHERE sa.is_eval <> sb.is_eval)
       |SELECT train_doc,
       |       CAST(count(*) AS BIGINT) AS n_eval_matches,
       |       max(est_jaccard) AS max_est_jaccard
       |FROM xp GROUP BY train_doc""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val src = Tables.documents(s, dir)
        .select($"doc_id", ($"source" === "src0").as("is_eval"))
      minhashPairs(s, dir)
        .join(src.select($"doc_id".as("doc_a"), $"is_eval".as("ea")), "doc_a")
        .join(src.select($"doc_id".as("doc_b"), $"is_eval".as("eb")), "doc_b")
        .filter($"ea" =!= $"eb")
        .select(when($"ea", $"doc_b").otherwise($"doc_a").as("train_doc"),
          $"est_jaccard")
        .groupBy($"train_doc")
        .agg(count(lit(1)).as("n_eval_matches"),
          max($"est_jaccard").as("max_est_jaccard"))
  }

  /** D9: cross-source duplication matrix — for every unordered source
    * pair, how many verified near-dup pairs (the d3 list) span them.
    * This is the corpus-diagnostics view a data team reads before
    * setting mixture weights: a hot (src_i, src_j) cell means one crawl
    * re-serves another's pages (or an eval split leaks into training —
    * the (src0, *) row IS d8's contamination, aggregated). Reuses the
    * session-memoized pair list, so it costs two broadcast-sized
    * label joins and one ≤|sources|² aggregation on top of d3; at
    * 100 TB the pair list is already the materialization boundary and
    * this matrix is a cheap rollup of it. Counts only — integer-exact
    * (averaging est_jaccard would reintroduce float-sum ordering).
    */
  val sourceOverlap = Q("d9_source_overlap",
    s"""WITH $minhashCtes,
       |pairs AS ($minhashSelect),
       |lab AS (SELECT doc_id, source FROM documents)
       |SELECT least(a.source, b.source) AS source_a,
       |       greatest(a.source, b.source) AS source_b,
       |       CAST(count(*) AS BIGINT) AS n_pairs
       |FROM pairs p JOIN lab a ON p.doc_a = a.doc_id
       |             JOIN lab b ON p.doc_b = b.doc_id
       |GROUP BY 1, 2""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val lab = Tables.documents(s, dir).select($"doc_id", $"source")
      minhashPairs(s, dir)
        .join(lab.select($"doc_id".as("doc_a"), $"source".as("sa")), "doc_a")
        .join(lab.select($"doc_id".as("doc_b"), $"source".as("sb")), "doc_b")
        .select(least($"sa", $"sb").as("source_a"),
          greatest($"sa", $"sb").as("source_b"))
        .groupBy($"source_a", $"source_b")
        .agg(count(lit(1)).as("n_pairs"))
  }

  /** D13: n-gram CONTAINMENT — the asymmetric dup metric Jaccard misses:
    * C = |A∩B| / min(|A|,|B|) is high whenever the smaller doc is
    * (nearly) subsumed by the larger one, even when the size gap keeps
    * Jaccard low (a paragraph quoted inside a long article: C ≈ 1,
    * J ≈ |A|/|B| ≈ 0). The standard screen for quote/wrapper/boilerplate
    * duplication in LLM corpora (Broder's containment, the metric behind
    * "superset dedup"). Output marks which doc is the contained one
    * (smaller side, ties to doc_a) and carries the Jaccard bound
    * alongside so the subsumption-only pairs are visible.
    *
    * APPROXIMATION (same df cap as d2, stated so the columns aren't
    * over-read): the intersection counts only RARE shingles (df ≤ 15)
    * while the denominators count ALL shingles, so the emitted scores
    * are LOWER BOUNDS on Broder's C and J, not the exact metrics — a
    * pair overlapping mainly via corpus-common shingles is under-scored.
    * The columns are named `containment_lb` / `jaccard_lb` to carry
    * that. The df cap is what keeps the join Σdf²-bounded at 100 TB; an
    * exact variant would need the full postings self-join d2 rejects.
    *
    * Scale: identical shape to d2 — df-capped postings self-join, Σdf²
    * bounded, never all-pairs; one extra broadcast-size join against the
    * per-doc sizes.
    */
  val containment = Q("d13_ngram_containment",
    s"""WITH sh AS ($shinglesSql),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |rare AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 15),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM sh a JOIN rare r ON a.shingle = r.shingle
       |       JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT p.doc_a, p.doc_b, p.inter, sa.sz AS sz_a, sb.sz AS sz_b,
       |       CAST(p.inter AS DOUBLE) / least(sa.sz, sb.sz) AS containment_lb,
       |       CAST(p.inter AS DOUBLE) / (sa.sz + sb.sz - p.inter) AS jaccard_lb,
       |       CASE WHEN sa.sz <= sb.sz THEN p.doc_a ELSE p.doc_b END AS contained_doc
       |FROM pairs p
       |JOIN sizes sa ON p.doc_a = sa.doc_id
       |JOIN sizes sb ON p.doc_b = sb.doc_id
       |WHERE CAST(p.inter AS DOUBLE) / least(sa.sz, sb.sz) >= 0.8""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      // per-doc sizes ride the postings into the self-join and fold with
      // max() in the pair aggregate — drops the sizes aggregate (a full
      // extra pass over the postings) and both joins back (r14, guide
      // §2.4; the d2/mb1/e26 carried-stats idiom)
      val sh = shinglesWithSize(s, dir).cache()
      val rare = sh.groupBy($"shingle").agg(count(lit(1)).as("df"))
        .filter($"df" <= 15).select($"shingle")
      val a = sh.join(rare, "shingle")
        .select($"shingle", $"doc_id".as("doc_a"), $"sz".as("sz_a"))
      val b = sh.select($"shingle".as("shingle_b"), $"doc_id".as("doc_b"),
        $"sz".as("sz_b"))
      val pairs = a.join(b, $"shingle" === $"shingle_b" && $"doc_a" < $"doc_b")
        .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("inter"),
          max($"sz_a").as("sz_a"), max($"sz_b").as("sz_b"))
      val cont = $"inter".cast("double") / least($"sz_a", $"sz_b")
      val jac = $"inter".cast("double") / ($"sz_a" + $"sz_b" - $"inter")
      pairs
        .select($"doc_a", $"doc_b", $"inter", $"sz_a", $"sz_b",
          cont.as("containment_lb"), jac.as("jaccard_lb"),
          when($"sz_a" <= $"sz_b", $"doc_a").otherwise($"doc_b").as("contained_doc"))
        .filter($"containment_lb" >= 0.8)
  }

  /** D12: INTRA-document repeated-span dedup — the C4/Gopher "drop
    * repeated spans inside one document" rule (the cross-doc families
    * d1–d13 never look within a doc; boilerplate and scraper glitches
    * repeat INSIDE documents too). Text is cut into fixed-width
    * non-overlapping word spans; occurrences of an identical span after
    * its first (in reading order) are the removable repetition. The span
    * width is 2 words here — deliberately small because the synthetic
    * corpus draws from a 31-word vocabulary; at real scale the same
    * operator runs with sentence-sized spans.
    *
    * Scale: explode is linear in corpus tokens; the dedup window
    * partitions by (doc_id, span) — keys never cross documents, so the
    * shuffle is uniform and no key exceeds a single doc's span count.
    * Per-doc output, no global state.
    */
  val intraDocDedup = Q("d12_intradoc_dedup",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |s AS (SELECT doc_id, i,
      |             array_to_string(ws[(i*2+1):(i*2+2)], ' ') AS span
      |      FROM w, UNNEST(generate_series(0, CAST(ceil(len(ws)/2.0) AS BIGINT) - 1)) AS t(i)),
      |r AS (SELECT doc_id, span,
      |             row_number() OVER (PARTITION BY doc_id, span ORDER BY i) AS rn
      |      FROM s)
      |SELECT doc_id, count(*) AS n_spans,
      |       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
      |FROM r GROUP BY 1""".stripMargin) { (s, dir) =>
    import s.implicits._
    val spanW = 2
    val words = split($"text", " ")
    val segs = transform(
      sequence(lit(0), ceil(size(words) / lit(spanW.toDouble)).cast("int") - 1),
      i => concat_ws(" ", slice(words, i * spanW + 1, lit(spanW))))
    // occurrences-after-the-first per doc ≡ n_spans − n_distinct_spans:
    // the r13 rewrite drops the per-(doc, span) row_number window (a
    // shuffle + per-doc sort over every span occurrence) for a hash
    // aggregate — same integers, no sort, and the explode no longer
    // needs positions at all (guide §2.4). r14: the mixed
    // count + count(distinct) plan ran through an Expand that DOUBLED
    // every exploded row before the first aggregate (one copy per
    // grouping id) — the driver's 32-core run measured 5.5 s of memory
    // churn there (VERDICT r13 item 1). Staging the same integers as two
    // plain aggregates — occurrence counts at (doc, span) grain, then
    // Σcnt / row-count at doc grain — keeps every aggregate map-side
    // combinable with NO row expansion: n_spans = Σ cnt,
    // n_dup_spans = Σ cnt − #distinct spans = Σ (cnt − 1).
    Tables.spread(Tables.documents(s, dir).select($"doc_id", $"text"))
      .select($"doc_id", explode(segs).as("span"))
      .groupBy($"doc_id", $"span").agg(count(lit(1)).as("cnt"))
      .groupBy($"doc_id")
      .agg(
        sum($"cnt").as("n_spans"),
        (sum($"cnt") - count(lit(1))).as("n_dup_spans"))
  }

  /** D14: LSH RECALL/PRECISION EVALUATION AS A QUERY — e19's
    * index-quality discipline applied to the dedup stack: how much of the
    * TRUE near-dup set (exact Jaccard ≥ 0.5, no df cap, no banding) does
    * the shipped d3 pair list catch, and how much of what it ships is
    * real? At 100 TB "is my band config right" must itself be a
    * distributed query: ground truth is computed on a PROBE PREFIX
    * (doc_id < 256 — a constant of the evaluation, like e19's 32 probes,
    * so the uncapped exact-pair join is bounded by the prefix, never the
    * corpus), the candidate side reuses the memoized d3 pairs restricted
    * to the same prefix, and the verdict is one summary row. Integer
    * counts; recall/precision are exact-int IEEE divisions (NULL when a
    * denominator is zero — both engines agree).
    */
  val lshRecall = Q("d14_lsh_recall", {
    s"""WITH $minhashCtes,
       |lsh AS (
       |  SELECT doc_a, doc_b FROM ($minhashSelect)
       |  WHERE doc_a < 256 AND doc_b < 256),
       |psh AS (SELECT doc_id, shingle FROM sh WHERE doc_id < 256),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM psh GROUP BY 1),
       |ip AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM psh a JOIN psh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |exact AS (
       |  SELECT p.doc_a, p.doc_b
       |  FROM ip p JOIN sizes sa ON p.doc_a = sa.doc_id
       |            JOIN sizes sb ON p.doc_b = sb.doc_id
       |  WHERE CAST(p.inter AS DOUBLE) / (sa.sz + sb.sz - p.inter) >= 0.5),
       |j AS (
       |  SELECT coalesce(e.in_exact, FALSE) AS in_exact,
       |         coalesce(l.in_lsh, FALSE) AS in_lsh
       |  FROM (SELECT doc_a, doc_b, TRUE AS in_exact FROM exact) e
       |  FULL OUTER JOIN (SELECT doc_a, doc_b, TRUE AS in_lsh FROM lsh) l
       |    USING (doc_a, doc_b))
       |SELECT
       |  CAST(sum(CASE WHEN in_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       |  CAST(sum(CASE WHEN in_lsh THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh,
       |  CAST(sum(CASE WHEN in_exact AND in_lsh THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  CASE WHEN sum(CASE WHEN in_exact THEN 1 ELSE 0 END) > 0
       |       THEN CAST(sum(CASE WHEN in_exact AND in_lsh THEN 1 ELSE 0 END) AS DOUBLE)
       |            / sum(CASE WHEN in_exact THEN 1 ELSE 0 END) END AS recall,
       |  CASE WHEN sum(CASE WHEN in_lsh THEN 1 ELSE 0 END) > 0
       |       THEN CAST(sum(CASE WHEN in_exact AND in_lsh THEN 1 ELSE 0 END) AS DOUBLE)
       |            / sum(CASE WHEN in_lsh THEN 1 ELSE 0 END) END AS precision
       |FROM j""".stripMargin
  }) {
    (s, dir) =>
      import s.implicits._
      val P = 256
      // filter the probe prefix out of the postings ONCE and cache the
      // small subset: both exact-intersection sides would otherwise each
      // re-run the explode. Sizes ride the postings (the d2/d13 carried-
      // stats idiom, r14) — no sizes aggregate, no joins back
      val psh = shinglesWithSize(s, dir).filter($"doc_id" < P).cache()
      val ip = psh.select($"shingle", $"doc_id".as("doc_a"), $"sz".as("sza"))
        .join(psh.select($"shingle", $"doc_id".as("doc_b"), $"sz".as("szb")),
          Seq("shingle"))
        .filter($"doc_a" < $"doc_b")
        .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("inter"),
          max($"sza").as("sza"), max($"szb").as("szb"))
      val exactPairs = ip
        .filter($"inter".cast("double") / ($"sza" + $"szb" - $"inter") >= 0.5)
        .select($"doc_a", $"doc_b", lit(true).as("in_exact"))
      val lsh = minhashPairs(s, dir)
        .filter($"doc_a" < P && $"doc_b" < P)
        .select($"doc_a", $"doc_b", lit(true).as("in_lsh"))
      exactPairs.join(lsh, Seq("doc_a", "doc_b"), "full_outer")
        .select(coalesce($"in_exact", lit(false)).as("in_exact"),
          coalesce($"in_lsh", lit(false)).as("in_lsh"))
        .agg(
          sum(when($"in_exact", 1L).otherwise(0L)).as("n_exact"),
          sum(when($"in_lsh", 1L).otherwise(0L)).as("n_lsh"),
          sum(when($"in_exact" && $"in_lsh", 1L).otherwise(0L)).as("n_hit"))
        .select($"n_exact", $"n_lsh", $"n_hit",
          when($"n_exact" > 0, $"n_hit".cast("double") / $"n_exact").as("recall"),
          when($"n_lsh" > 0, $"n_hit".cast("double") / $"n_lsh").as("precision"))
  }

  /** D16: DUPLICATION PROFILE — the cluster-size histogram over the d5
    * connected components: for each cluster size k, how many clusters
    * and how many documents live at that size (singletons = the
    * never-duplicated mass). This is the one-table diagnostic every
    * dedup writeup reports ("X% of the corpus sits in clusters ≥ 3")
    * and the input to choosing a survivor policy. All integers —
    * hash-exact by construction.
    *
    * Scale: two hash aggregates over the memoized cluster labels
    * (corpus → |clusters| → |distinct sizes|), each map-side
    * combinable; nothing is ever broadcast or collected.
    */
  val clusterSizeHistogram = Q("d16_cluster_size_histogram",
    s"""WITH RECURSIVE $minhashCtes,
       |pairs AS ($minhashSelect),
       |${graft.operators.DupClusters.ccCtes},
       |lab AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
       |        FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id),
       |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1)
       |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       |       count(*) AS n_clusters,
       |       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
       |FROM sz GROUP BY cluster_size""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      graft.operators.DupClusters.canonicalQuery(s, dir)
        .groupBy($"cluster_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy($"cluster_size").agg(count(lit(1)).as("n_clusters"))
        .select($"cluster_size", $"n_clusters",
          ($"cluster_size" * $"n_clusters").as("n_docs"))
  }

  /** D17: EXACT set-similarity join via PREFIX FILTERING (the
    * All-Pairs / PPJoin candidate rule, Bayardo et al. WWW'07): 3-gram
    * shingle-set Jaccard ≥ 0.5 pairs with NO approximation and NO
    * all-pairs — the exact counterpart to d2's df-capped lower bound,
    * over the same shingle space (and at d3's LSH design threshold, so
    * the three dedup tiers are directly comparable).
    *
    * Rule: order every doc's distinct shingles by global rarity (df ASC,
    * shingle ASC — a total order), keep only the PREFIX of length
    * |d| − ⌈τ·|d|⌉ + 1. Any pair with J ≥ τ must share a prefix shingle
    * (if A's prefix missed B entirely, A∩B fits in A's suffix of size
    * ⌈τ|A|⌉ − 1 < τ|A| ≤ |A∩B|), so joining prefix postings on the
    * shingle finds every qualifying pair — and the prefix holds each
    * doc's RAREST shingles, so ubiquitous ones never enter the join
    * UNLESS they are some doc's rarest (exactness keeps the guarantee d2
    * trades away). The standard LENGTH companion filter (τ·|B| ≤ |A| —
    * sizes ride the postings) prunes cross-size candidates before the
    * verify. Verification is the exact integer test 3·|A∩B| ≥ |A|+|B|
    * (⇔ J ≥ 0.5) over per-pair `array_intersect`, never a postings
    * fanout.
    *
    * Scale: candidate expansion is Σ df² over PREFIX postings only — on
    * Zipf text the prefix is rare-end by construction; the verify step
    * is |cand| pair-local array work. On a corpus whose shingle universe
    * SATURATES (tiny vocab), prefix dfs grow linearly and the join
    * degrades toward the output bound — which for exact J ≥ 0.5 is the
    * true pair count; the approximation-free tier costs that by
    * definition (d2/d3 are the subquadratic-by-fiat tiers).
    */
  val prefixFilterJoin = Q("d17_prefix_filter_join",
    s"""WITH sh0 AS ($shinglesSql),
      |df AS (SELECT shingle, count(*) AS df FROM sh0 GROUP BY 1),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh0 GROUP BY 1),
      |ranked AS (
      |  SELECT t.doc_id, t.shingle,
      |         row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.shingle) AS rn,
      |         s.n
      |  FROM sh0 t JOIN df d ON t.shingle = d.shingle JOIN sz s ON t.doc_id = s.doc_id),
      |prefix AS (
      |  SELECT doc_id, shingle, n FROM ranked WHERE rn <= n - ((n + 1) // 2) + 1),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM prefix a JOIN prefix b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |   AND 2 * least(a.n, b.n) >= greatest(a.n, b.n)),
      |arr AS (
      |  SELECT doc_id,
      |         list_distinct([array_to_string(w[i:i+2], ' ')
      |           for i in generate_series(1, greatest(len(w) - 2, 0))]) AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
      |SELECT c.doc_a, c.doc_b,
      |       CAST(len(list_intersect(x.g, y.g)) AS BIGINT) AS inter,
      |       CAST(len(x.g) AS BIGINT) AS na,
      |       CAST(len(y.g) AS BIGINT) AS nb,
      |       CAST(len(list_intersect(x.g, y.g)) AS DOUBLE)
      |         / (len(x.g) + len(y.g) - len(list_intersect(x.g, y.g))) AS jaccard
      |FROM cand c JOIN arr x ON c.doc_a = x.doc_id
      |            JOIN arr y ON c.doc_b = y.doc_id
      |WHERE 3 * len(list_intersect(x.g, y.g)) >= len(x.g) + len(y.g)""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
      // materialize the prefix postings ONCE: both sides of the candidate
      // self-join consume the same (df-join + sz-join + per-doc window)
      // pipeline, and without the cache the plan ran that pipeline — the
      // most expensive window in the dedup stack — TWICE (r13 plan audit:
      // 2 Window nodes, 6 shingle-cache reads; guide §2.4)
      val prefix = d17PrefixPostings(s, dir).cache()
      val cand = prefix.select($"shingle", $"doc_id".as("doc_a"), $"n".as("n_a"))
        .join(prefix.select($"shingle", $"doc_id".as("doc_b"), $"n".as("n_b")), Seq("shingle"))
        .filter($"doc_a" < $"doc_b"
          && lit(2) * least($"n_a", $"n_b") >= greatest($"n_a", $"n_b"))
        .select($"doc_a", $"doc_b").distinct().cache()
      // verification only touches docs that SURVIVED candidate generation,
      // so build the 3-gram arrays for THOSE docs alone (broadcast
      // semi-join prune) instead of materializing the full-corpus array
      // table twice — the garr transform over every doc ×2 was d17's top
      // CPU bucket (guide §2.3: cut the work before it fans out)
      val needed = cand.select($"doc_a".as("doc_id"))
        .unionByName(cand.select($"doc_b".as("doc_id"))).distinct()
      val garr = expr(
        """array_distinct(CASE WHEN size(w) >= 3
          |  THEN transform(sequence(1, size(w) - 2),
          |         i -> concat_ws(' ', w[i-1], w[i], w[i+1]))
          |  ELSE cast(array() AS array<string>) END)""".stripMargin)
      val arr = docs.join(broadcast(needed), Seq("doc_id"), "left_semi")
        .select($"doc_id", split($"text", " ").as("w"))
        .select($"doc_id", garr.as("g")).cache()
      // broadcast gate (r14 ADVICE): the array table is O(candidate docs
      // × doc text) and a FORCED broadcast can exceed the 8 GB relation
      // cap / OOM the driver at corpus scale where a shuffle join scales
      // fine. Upper-bound it from the SOURCE parquet's on-disk size
      // (candidate pruning only shrinks the table; ×16 covers parquet
      // text compression on repetitive corpora, the 3-word gram fanout
      // and JVM string overhead) — pure FS metadata, no Spark job, no
      // extra analysis pass per run (an eager count() + cached-stats
      // gate was measured at +0.3-0.7 s/run and reverted, as was a bare
      // unhinted variant that lost the cache to the racing broadcast
      // futures and re-ran the whole prefix pipeline per consumer: 5.4 s
      // vs 0.7 s). Broadcast while the bound sits under the session's
      // `spark.sql.autoBroadcastJoinThreshold` (-1: never); beyond it the
      // planner is left to pick from its own estimates. The ids-only
      // `needed` broadcast above stays: ids, not payloads.
      val docsPath = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
      val docsBytes = docsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(docsPath).getLength
      val arrFits = docsBytes * 16 <= s.sessionState.conf.autoBroadcastJoinThreshold
      def gated(d: DataFrame): DataFrame = if (arrFits) broadcast(d) else d
      val inter = size(array_intersect($"ga", $"gb"))
      cand
        .join(gated(arr.toDF("doc_a", "ga")), "doc_a")
        .join(gated(arr.toDF("doc_b", "gb")), "doc_b")
        .filter(lit(3) * inter >= size($"ga") + size($"gb"))
        .select($"doc_a", $"doc_b",
          inter.cast("long").as("inter"),
          size($"ga").cast("long").as("na"),
          size($"gb").cast("long").as("nb"),
          (inter.cast("double") / (size($"ga") + size($"gb") - inter)).as("jaccard"))
  }

  /** d17's prefix-postings stage `(doc_id, shingle, n)`: each doc's
    * ⌊n/2⌋+1 rarest shingles, the prefix the candidate join keys on.
    */
  private def d17PrefixPostings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = shingles(s, dir).cache()
    val dfSh = sh.groupBy($"shingle").agg(count(lit(1)).as("df"))
    val sz = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"df", $"shingle")
    sh.join(dfSh, "shingle").join(sz, "doc_id")
      .withColumn("rn", row_number().over(byRarity))
      .filter($"rn" <= $"n" - expr("(n + 1) div 2") + 1)
      .select($"doc_id", $"shingle", $"n")
  }

  /** D18: GOLDEN-RECORD consolidation — entity resolution's second half
    * (d7 finds the matches; d18 MERGES them): matched customers cluster
    * by transitive closure (the shared adaptive [[graft.operators.DupClusters]]
    * machinery), and each cluster emits ONE consolidated record under
    * field-level SURVIVORSHIP rules — the MDM step after record linkage:
    *
    *  - `golden_id` / `golden_name`: the smallest member key and its name
    *    (stable, deterministic — ≡ the component root);
    *  - `acctbal_cents`: max across members (most-complete-value rule),
    *    exact integer cents;
    *  - `segment`: deterministic mode across members (a13's
    *    `min(struct(−n, v))` argmax — frequency ties to the smaller value);
    *  - `n_members`: cluster size (1 for unmatched customers — every
    *    customer yields exactly one golden identity, roster-complete).
    *
    * Scale: the d7 pair list is block-bounded, clustering is
    * adaptive (driver union-find small / BSP at scale), survivorship is
    * two hash aggregates + one keyed join back for the name. The
    * clustered-roster join broadcasts because matched entities ≪ corpus
    * (e12's argument).
    */
  /** Priced-before-run guard for the BLOCKED LINKAGE self-joins (d18/
    * d19's shape) — the j10/d17 discipline applied where the r13 decade
    * extension measured the exposure: blocking-key populations densify
    * superlinearly on replayed/duplicated corpora (61,687 → 2.7 M
    * candidate pairs under the 10× replicating generator, ~44× for 10×
    * rows — SCALE.md). The guard is j13's arithmetic over the blocking
    * key: exact Σ c·(c−1)/2 from the degree profile alone (one groupBy,
    * DECIMAL(38,0) accumulation, no pair ever materialized), refusing
    * past the shared [[ScaleOps.selfJoinCap]] and naming the levers.
    */
  private[graft] def requireBlockedPairsUnderCap(blocked: DataFrame,
      blkCol: String, site: String, cap: Long = ScaleOps.selfJoinCap,
      memo: Option[(org.apache.spark.sql.SparkSession, String, String)] = None): Unit = {
    // Sum the DECIMAL products and halve DRIVER-side: `div` is Spark's
    // IntegralDivide, which returns LONG — putting it inside the sum
    // would collapse the accumulation to int64, exactly the overflow
    // this guard exists to refuse on (each cnt·(cnt−1) is even, so the
    // halving of the sum is exact).
    def compute: java.math.BigDecimal =
      blocked.groupBy(col(blkCol)).agg(count(lit(1)).as("cnt"))
        .agg(coalesce(sum(expr("CAST(cnt AS DECIMAL(38,0)) * (cnt - 1)")),
          lit(0).cast("decimal(38,0)")).as("p"))
        .head().getDecimal(0)
        .divide(java.math.BigDecimal.valueOf(2))
    // d7/d18/d19 price the SAME customer.blk profile — memoized per
    // (session, dir) like every other shared intermediate, so the guard
    // is one aggregate per session, not one per query per bench run
    val pairs = memo match {
      case Some((s, dir, key)) => Memo.cachedValue(s, dir, key)(compute)
      case None => compute
    }
    require(pairs.compareTo(java.math.BigDecimal.valueOf(cap)) <= 0,
      s"$site blocked self-join: projected candidate pairs $pairs exceed " +
        s"the cap $cap — block populations densify superlinearly on " +
        "replayed/duplicated corpora (SCALE.md r13 decade extension). " +
        "Tighten the blocking key, cap block sizes (the d2 rare-shingle " +
        "rule), or salt the block join (j7); price with " +
        "j13_self_join_price over the blocking key first.")
  }

  val goldenRecord = Q("d18_golden_record",
    s"""WITH RECURSIVE cblk AS (
       |  SELECT c_custkey, c_name,
       |         substr(c_name, 1, length(c_name) - 1) AS blk
       |  FROM customer),
       |pairs AS (
       |  SELECT a.c_custkey AS doc_a, b.c_custkey AS doc_b
       |  FROM cblk a JOIN cblk b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
       |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
       |${graft.operators.DupClusters.ccCtes},
       |c AS (SELECT c_custkey, c_name, c_mktsegment,
       |             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |      FROM customer),
       |lab AS (
       |  SELECT c.c_custkey, coalesce(l.cluster_id, c.c_custkey) AS golden_id,
       |         c.c_mktsegment, c.cents
       |  FROM c LEFT JOIN labels l ON c.c_custkey = l.doc_id),
       |segv AS (SELECT golden_id, c_mktsegment, count(*) AS n FROM lab GROUP BY 1, 2),
       |segpick AS (
       |  SELECT golden_id, min(struct_pack(neg := -n, s := c_mktsegment)).s AS segment
       |  FROM segv GROUP BY 1),
       |agg AS (
       |  SELECT golden_id, count(*) AS n_members, max(cents) AS acctbal_cents
       |  FROM lab GROUP BY 1)
       |SELECT a.golden_id, g.c_name AS golden_name,
       |       CAST(a.n_members AS BIGINT) AS n_members,
       |       a.acctbal_cents, p.segment
       |FROM agg a JOIN segpick p ON a.golden_id = p.golden_id
       |           JOIN c g ON a.golden_id = g.c_custkey""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      // cached: the projected roster feeds FIVE consumers (the pricing
      // guard, both self-join sides, the cluster-label attach, and the
      // golden-name lookup) — one scan + projection instead of five
      val cust = Tables.customer(s, dir).select(
        $"c_custkey", $"c_name", $"c_mktsegment",
        (Exact.dec2($"c_acctbal") * 100).cast("long").as("cents"),
        expr("substr(c_name, 1, length(c_name) - 1)").as("blk")).cache()
      requireBlockedPairsUnderCap(cust, "blk", "d18_golden_record",
        memo = Some((s, dir, "customer_blk_pairs")))
      val a = cust.select($"blk", $"c_custkey".as("doc_a"), $"c_name".as("name_a"))
      val b = cust.select($"blk".as("blk_b"), $"c_custkey".as("doc_b"), $"c_name".as("name_b"))
      val pairs = a.join(b, $"blk" === $"blk_b" && $"doc_a" < $"doc_b")
        .filter(levenshtein($"name_a", $"name_b") <= 1)
        .select($"doc_a", $"doc_b")
      val clustered = graft.operators.DupClusters.clusters(s, pairs)
        .withColumnRenamed("doc_id", "c_custkey")
      val lab = cust.join(broadcast(clustered), Seq("c_custkey"), "left")
        .select($"c_custkey", coalesce($"cluster_id", $"c_custkey").as("golden_id"),
          $"c_mktsegment", $"cents")
      val segpick = lab.groupBy($"golden_id", $"c_mktsegment")
        .agg(count(lit(1)).as("n"))
        .groupBy($"golden_id")
        .agg(min(struct((-$"n").as("neg"), $"c_mktsegment".as("s"))).as("m"))
        .select($"golden_id", $"m.s".as("segment"))
      val agg = lab.groupBy($"golden_id")
        .agg(count(lit(1)).as("n_members"), max($"cents").as("acctbal_cents"))
      agg.join(segpick, Seq("golden_id"))
        .join(cust.select($"c_custkey".as("golden_id"), $"c_name".as("golden_name")),
          Seq("golden_id"))
        .select($"golden_id", $"golden_name", $"n_members", $"acctbal_cents", $"segment")
  }

  /** D19: FELLEGI–SUNTER probabilistic record linkage — the scoring
    * model between d7's candidate generation and d18's merge: each
    * blocked candidate pair gets a match-likelihood ratio Π m_f/u_f
    * (agreeing fields) × Π (1−m_f)/(1−u_f) (disagreeing), the 1969
    * theory behind every production MDM matcher.
    *
    * Parameter estimation is DATA-DRIVEN and deterministic (no EM):
    *  - m_f (P(field agrees | match)) from the HIGH-PRECISION SEED set —
    *    blocked pairs with name edit distance ≤ 1 (d7's output), the
    *    standard bootstrap when no labels exist;
    *  - u_f (P(field agrees | random pair)) from value frequencies:
    *    Σ_v n_v² / N², the exact chance-agreement rate.
    * Both are floor'd to ppm INTEGERS and clamped to [100, 999900], so
    * every weight factor is exact int64 and no ratio exceeds 10⁴ per
    * field — numerator/denominator products of 3 fields stay < 10¹⁸
    * (int64-safe; beyond ~sf30 promote Σn_v² to decimal like mb1's lift
    * note) and the final score is one 128-bit integer floor-division
    * (Spark decimal `div` / DuckDB hugeint `//`) — hash-exact across
    * engines with zero float ops.
    *
    * Scale shape: ONE blocked self-join builds the candidate pairs (the
    * d7 shape — never all-pairs); m comes from an aggregate OVER those
    * pairs, u from per-field value-frequency aggregates of the base
    * table; the six ppm parameters ride into the scoring projection as
    * a broadcast 1-row cross join (the mb1 n_baskets idiom). Output is
    * pairs with ratio ≥ 1 (score_ppm ≥ 10⁶ — likelier match than
    * chance), each with its agreement pattern for audit.
    */
  val fellegiSunter = Q("d19_fellegi_sunter",
    """WITH c AS (
      |  SELECT c_custkey, c_name,
      |         substr(c_name, 1, length(c_name) - 1) AS blk,
      |         c_nationkey AS nat, c_mktsegment AS seg,
      |         CAST(floor(c_acctbal / CAST(1000 AS DOUBLE)) AS BIGINT) AS band
      |  FROM customer),
      |cand AS (
      |  SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
      |         CASE WHEN a.nat = b.nat THEN 1 ELSE 0 END AS ag_nat,
      |         CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS ag_seg,
      |         CASE WHEN a.band = b.band THEN 1 ELSE 0 END AS ag_band,
      |         CASE WHEN levenshtein(a.c_name, b.c_name) <= 1 THEN 1 ELSE 0 END AS is_seed
      |  FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey),
      |m AS (
      |  SELECT greatest(least(1000000 * CAST(sum(ag_nat) AS BIGINT) // greatest(count(*), 1), 999900), 100) AS m_nat,
      |         greatest(least(1000000 * CAST(sum(ag_seg) AS BIGINT) // greatest(count(*), 1), 999900), 100) AS m_seg,
      |         greatest(least(1000000 * CAST(sum(ag_band) AS BIGINT) // greatest(count(*), 1), 999900), 100) AS m_band
      |  FROM cand WHERE is_seed = 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_cust FROM c),
      |u AS (
      |  SELECT
      |    greatest(least((SELECT CAST(sum(nv * nv) AS BIGINT) FROM (SELECT count(*) AS nv FROM c GROUP BY nat))
      |      * 1000000 // (n_cust * n_cust), 999900), 100) AS u_nat,
      |    greatest(least((SELECT CAST(sum(nv * nv) AS BIGINT) FROM (SELECT count(*) AS nv FROM c GROUP BY seg))
      |      * 1000000 // (n_cust * n_cust), 999900), 100) AS u_seg,
      |    greatest(least((SELECT CAST(sum(nv * nv) AS BIGINT) FROM (SELECT count(*) AS nv FROM c GROUP BY band))
      |      * 1000000 // (n_cust * n_cust), 999900), 100) AS u_band
      |  FROM n),
      |scored AS (
      |  SELECT cust_a, cust_b,
      |         CAST(ag_nat AS VARCHAR) || CAST(ag_seg AS VARCHAR) || CAST(ag_band AS VARCHAR) AS pattern,
      |         CAST((CASE WHEN ag_nat = 1 THEN m_nat ELSE 1000000 - m_nat END)
      |            * (CASE WHEN ag_seg = 1 THEN m_seg ELSE 1000000 - m_seg END)
      |            * (CASE WHEN ag_band = 1 THEN m_band ELSE 1000000 - m_band END) AS BIGINT) AS num,
      |         CAST((CASE WHEN ag_nat = 1 THEN u_nat ELSE 1000000 - u_nat END)
      |            * (CASE WHEN ag_seg = 1 THEN u_seg ELSE 1000000 - u_seg END)
      |            * (CASE WHEN ag_band = 1 THEN u_band ELSE 1000000 - u_band END) AS BIGINT) AS den
      |  FROM cand, m, u)
      |SELECT cust_a, cust_b, pattern, num, den,
      |       CAST(CAST(num AS HUGEINT) * 1000000 // CAST(den AS HUGEINT) AS BIGINT) AS score_ppm
      |FROM scored
      |WHERE CAST(num AS HUGEINT) * 1000000 // CAST(den AS HUGEINT) >= 1000000""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      // cached: the projected roster feeds the pricing guard, both
      // self-join sides, the three u-probability value-frequency
      // aggregates, and the row count (d18's five-consumer shape)
      val c = Tables.customer(s, dir).select(
        $"c_custkey", $"c_name",
        expr("substr(c_name, 1, length(c_name) - 1)").as("blk"),
        $"c_nationkey".as("nat"), $"c_mktsegment".as("seg"),
        floor($"c_acctbal" / lit(1000.0)).cast("long").as("band")).cache()
      requireBlockedPairsUnderCap(c, "blk", "d19_fellegi_sunter",
        memo = Some((s, dir, "customer_blk_pairs")))
      val a = c.select($"blk", $"c_custkey".as("cust_a"), $"c_name".as("name_a"),
        $"nat".as("nat_a"), $"seg".as("seg_a"), $"band".as("band_a"))
      val b = c.select($"blk".as("blk_b"), $"c_custkey".as("cust_b"), $"c_name".as("name_b"),
        $"nat".as("nat_b"), $"seg".as("seg_b"), $"band".as("band_b"))
      // one blocked self-join; agreement flags + the seed label computed
      // once, reused by BOTH the m estimate and the scoring pass
      val cand = a.join(b, $"blk" === $"blk_b" && $"cust_a" < $"cust_b")
        .select($"cust_a", $"cust_b",
          when($"nat_a" === $"nat_b", 1).otherwise(0).as("ag_nat"),
          when($"seg_a" === $"seg_b", 1).otherwise(0).as("ag_seg"),
          when($"band_a" === $"band_b", 1).otherwise(0).as("ag_band"),
          when(levenshtein($"name_a", $"name_b") <= 1, 1).otherwise(0).as("is_seed"))
        .cache()
      def clampPpm(x: Column): Column = greatest(least(x, lit(999900L)), lit(100L))
      val m = cand.filter($"is_seed" === 1).agg(
        clampPpm(expr("1000000 * cast(sum(ag_nat) as bigint) div greatest(count(1), 1)")).as("m_nat"),
        clampPpm(expr("1000000 * cast(sum(ag_seg) as bigint) div greatest(count(1), 1)")).as("m_seg"),
        clampPpm(expr("1000000 * cast(sum(ag_band) as bigint) div greatest(count(1), 1)")).as("m_band"))
      val nCust = c.agg(count(lit(1)).as("n_cust"))
      def uOf(field: String, out: String) =
        c.groupBy(col(field)).agg(count(lit(1)).as("nv"))
          .agg(sum($"nv" * $"nv").as("s2"))
          .crossJoin(nCust)
          .select(clampPpm(expr("s2 * 1000000 div (n_cust * n_cust)")).as(out))
      val stats = m.crossJoin(uOf("nat", "u_nat")).crossJoin(uOf("seg", "u_seg"))
        .crossJoin(uOf("band", "u_band"))
      def factor(ag: Column, ppm: Column): Column =
        when(ag === 1, ppm).otherwise(lit(1000000L) - ppm)
      cand.crossJoin(broadcast(stats))
        .select($"cust_a", $"cust_b",
          concat($"ag_nat".cast("string"), $"ag_seg".cast("string"),
            $"ag_band".cast("string")).as("pattern"),
          (factor($"ag_nat", $"m_nat") * factor($"ag_seg", $"m_seg")
            * factor($"ag_band", $"m_band")).cast("long").as("num"),
          (factor($"ag_nat", $"u_nat") * factor($"ag_seg", $"u_seg")
            * factor($"ag_band", $"u_band")).cast("long").as("den"))
        .withColumn("score_ppm",
          expr("cast(cast(num as decimal(38,0)) * 1000000 div den as bigint)"))
        .filter($"score_ppm" >= 1000000L)
  }

  /** D22: BLOCKING-QUALITY audit (the Fellegi–Sunter blocking literature's
    * reduction ratio / pairs completeness, over the REAL d3 blocking): how
    * good is LSH banding as a blocking scheme, measured as one row —
    * candidate volume vs the n(n−1)/2 all-pairs space (reduction), recall
    * of the exact-verified near-dup pairs at τ=0.5 (completeness), and
    * candidate precision. This is the report that tunes band count/size
    * BEFORE a 100 TB dedup run commits to a blocking configuration — the
    * d14 LSH-recall gate generalized from "did we catch the known dups"
    * to the full blocking trade-off.
    *
    * Reference truth = the exact n-gram-Jaccard tier's verified pairs at
    * τ=0.5 (d2's candidate generation + exact set Jaccard) — at corpus
    * scale there is no oracle-free absolute truth; auditing the cheap
    * tier against the exact tier is precisely what the engine's tiered
    * dedup stack (SCALE.md) prescribes.
    *
    * Shape: the memoized band-candidate and signature tables (shared with
    * d3/d8), one exact-Jaccard verify over df-capped postings (d2's
    * shape), one full-outer pair join, one global aggregate; the only
    * nonequi step is the final 1-row × 1-row metric join. n(n−1)
    * accumulates in DECIMAL(38,0), surfaced BIGINT (e34 discipline; at
    * ≳10⁹·√2 docs the possible-pairs surface itself would need the
    * digit-string form).
    */
  val blockingQuality = Q("d22_blocking_quality",
    s"""WITH $minhashCtes,
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |rare AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 15),
       |tp AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM sh a JOIN rare r ON a.shingle = r.shingle
       |       JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT t.doc_a, t.doc_b FROM tp t
       |  JOIN sizes sa ON t.doc_a = sa.doc_id
       |  JOIN sizes sb ON t.doc_b = sb.doc_id
       |  WHERE CAST(t.inter AS DOUBLE) / (sa.sz + sb.sz - t.inter) >= 0.5),
       |fl AS (
       |  SELECT c.doc_a IS NOT NULL AS in_cand, t.doc_a IS NOT NULL AS in_truth
       |  FROM cand c FULL JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b),
       |m AS (
       |  SELECT CAST(count(*) FILTER (WHERE in_cand) AS BIGINT) AS n_cand,
       |         CAST(count(*) FILTER (WHERE in_truth) AS BIGINT) AS n_truth,
       |         CAST(count(*) FILTER (WHERE in_cand AND in_truth) AS BIGINT) AS n_caught
       |  FROM fl),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
       |SELECT n_docs,
       |       CAST(CAST(n_docs AS HUGEINT) * (n_docs - 1) // 2 AS BIGINT) AS n_possible_pairs,
       |       n_cand, n_truth, n_caught,
       |       CAST(1000000 - CAST(n_cand AS HUGEINT) * 2000000
       |            // (CAST(n_docs AS HUGEINT) * (n_docs - 1)) AS BIGINT) AS reduction_ppm,
       |       CASE WHEN n_truth = 0 THEN NULL
       |            ELSE CAST(CAST(n_caught AS HUGEINT) * 1000000 // n_truth AS BIGINT)
       |       END AS completeness_ppm,
       |       CASE WHEN n_cand = 0 THEN NULL
       |            ELSE CAST(CAST(n_caught AS HUGEINT) * 1000000 // n_cand AS BIGINT)
       |       END AS precision_ppm
       |FROM m, n""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      // τ = 0.5 truth = the memoized d2 pair table filtered (equivalent
      // to recomputing at 0.5; shares the expensive verify with d2)
      val truth = jaccardPairs(s, dir)
        .filter($"jaccard" >= 0.5)
        .select($"doc_a", $"doc_b", lit(true).as("in_truth"))
      val cand = bandCandidates(s, dir)
        .select($"doc_a", $"doc_b", lit(true).as("in_cand"))
      val m = cand.join(truth, Seq("doc_a", "doc_b"), "full_outer")
        .agg(
          count_if(coalesce($"in_cand", lit(false))).as("n_cand"),
          count_if(coalesce($"in_truth", lit(false))).as("n_truth"),
          count_if(coalesce($"in_cand", lit(false)) && coalesce($"in_truth", lit(false)))
            .as("n_caught"))
      val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      m.crossJoin(n).select(
        $"n_docs",
        expr("CAST(CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1) div 2 AS BIGINT)")
          .as("n_possible_pairs"),
        $"n_cand", $"n_truth", $"n_caught",
        expr("CAST(1000000 - CAST(n_cand AS DECIMAL(38,0)) * 2000000" +
          " div (CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1)) AS BIGINT)")
          .as("reduction_ppm"),
        when($"n_truth" === 0, lit(null).cast("long"))
          .otherwise(expr("CAST(CAST(n_caught AS DECIMAL(38,0)) * 1000000 div n_truth AS BIGINT)"))
          .as("completeness_ppm"),
        when($"n_cand" === 0, lit(null).cast("long"))
          .otherwise(expr("CAST(CAST(n_caught AS DECIMAL(38,0)) * 1000000 div n_cand AS BIGINT)"))
          .as("precision_ppm"))
  }

  /** D23: MINHASH CALIBRATION audit — d22's companion on the ESTIMATOR
    * side: for every verified LSH pair, the signed and absolute error of
    * the signature-agreement Jaccard estimate against the EXACT set
    * Jaccard, grouped by agreement level. d22 asks "does the blocking
    * find the pairs"; d23 asks "can the estimate's value be trusted" —
    * the number that decides whether a pipeline can rank/threshold on
    * est_jaccard directly or must pay the exact verify (d2's join) on
    * every candidate. A 12-hash signature is coarse by design; this
    * audit PRICES that coarseness in ppm instead of assuming it.
    *
    * Exactness: the exact Jaccard for each pair is recomputed through
    * the shingle postings (LEFT join — a pair whose signatures agree
    * without any shared shingle keeps inter = 0 rather than vanishing),
    * and every error is integer ppm (floor-division); the only double
    * touched is est_jaccard itself, converted back to its exact integer
    * agreement count via round(est·12).
    *
    * Shape: the memoized d3 pair list (≤ verified pairs, tiny) joined
    * through the postings on (doc, shingle) equi-keys, one pair-grain
    * aggregate, one ≤7-row rollup.
    */
  val minhashCalibration = Q("d23_minhash_calibration",
    s"""WITH $minhashCtes,
       |pairs AS ($minhashSelect),
       |px AS (SELECT doc_a, doc_b,
       |              CAST(round(est_jaccard * 12) AS INT) AS agree
       |       FROM pairs),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |itx AS (
       |  SELECT x.doc_a, x.doc_b, count(*) AS inter
       |  FROM px x
       |  JOIN sh a ON a.doc_id = x.doc_a
       |  JOIN sh b ON b.doc_id = x.doc_b AND b.shingle = a.shingle
       |  GROUP BY 1, 2),
       |er AS (
       |  SELECT px.agree,
       |         CAST(px.agree AS BIGINT) * 1000000 // 12
       |           - coalesce(i.inter, 0) * 1000000
       |             // (sa.sz + sb.sz - coalesce(i.inter, 0)) AS err_ppm
       |  FROM px
       |  LEFT JOIN itx i ON px.doc_a = i.doc_a AND px.doc_b = i.doc_b
       |  JOIN sizes sa ON px.doc_a = sa.doc_id
       |  JOIN sizes sb ON px.doc_b = sb.doc_id)
       |SELECT CAST(agree AS BIGINT) AS agree,
       |       CAST(count(*) AS BIGINT) AS n_pairs,
       |       CAST(sum(err_ppm) // count(*) AS BIGINT) AS mean_err_ppm,
       |       CAST(sum(abs(err_ppm)) // count(*) AS BIGINT) AS mae_ppm
       |FROM er GROUP BY 1""".stripMargin) {
    (s, dir) =>
      import s.implicits._
      val px = minhashPairs(s, dir)
        .select($"doc_a", $"doc_b",
          round($"est_jaccard" * 12).cast("int").as("agree"))
      // (r13: a broadcast-semi-join prune of the postings to pair docs,
      // cached, was tried here and REVERTED — under this fixture the
      // cached prune read SLOWER than the three independent re-derivations
      // of the explode, the same cached-postings-scan cost measured in
      // OPTIMIZATION_r13.md; the original uncached shape stays.)
      val sh = shingles(s, dir)
      val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
      val shA = sh.select($"doc_id".as("doc_a"), $"shingle")
      val shB = sh.select($"doc_id".as("doc_b2"), $"shingle".as("shingle_b"))
      val inter = px.select($"doc_a", $"doc_b")
        .join(shA, "doc_a")
        .join(shB, $"doc_b" === $"doc_b2" && $"shingle" === $"shingle_b")
        .groupBy($"doc_a", $"doc_b")
        .agg(count(lit(1)).as("inter"))
      val er = px
        .join(inter, Seq("doc_a", "doc_b"), "left")
        .join(sizes.toDF("doc_a", "sza"), "doc_a")
        .join(sizes.toDF("doc_b", "szb"), "doc_b")
        .select($"agree",
          expr("CAST(agree AS BIGINT) * 1000000 div 12" +
            " - coalesce(inter, 0) * 1000000" +
            " div (sza + szb - coalesce(inter, 0))").as("err_ppm"))
      er.groupBy($"agree".cast("long").as("agree"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("CAST(sum(err_ppm) div count(1) AS BIGINT)").as("mean_err_ppm"),
          expr("CAST(sum(abs(err_ppm)) div count(1) AS BIGINT)").as("mae_ppm"))
  }

  val queries: Seq[Q] = Seq(exact, jaccard, minhashLsh, minhashLshFast, simhash,
    contamination, contaminationBloom, fuzzyMatch, fuzzyDecontamination,
    sourceOverlap, exactSubstr, intraDocDedup, containment, lshRecall,
    clusterSizeHistogram, prefixFilterJoin, goldenRecord, fellegiSunter,
    blockingQuality, minhashCalibration)
}
