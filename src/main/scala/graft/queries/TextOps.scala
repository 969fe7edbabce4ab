package graft.queries

import graft.Tables._
import graft.functions.GraftFunctions.litSplit
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication operators over the `documents` table —
  * the training-data-pipeline surface (BASELINE.json north star). All
  * implemented as declarative column programs (higher-order array
  * functions, no UDFs → whole-stage codegen end to end).
  *
  * Scale notes (100 TB design):
  *   - shingling/minhashing is per-row map work — embarrassingly parallel,
  *     no shuffle;
  *   - exact-Jaccard (q33) uses an inverted-index join on shingles instead
  *     of a cross join: pairs with zero shingle overlap are never
  *     materialized;
  *   - MinHash-LSH (q34) shuffles only (band, band_hash) buckets — the
  *     classic sub-quadratic near-dup path; candidates are then verified
  *     with exact Jaccard so the output is deterministic (LSH affects
  *     recall only; 32 bands × 4 rows ⇒ P(miss | j ≥ 0.8) < 1e-7);
  *   - exact dedup (q32) is one hash-aggregate on a content digest.
  */
object TextOps {

  /** documents → (doc_id, sh) via the JIT'd shingle kernel
    * (TextFunctions.scala — bit-identical to the declarative form).
    *
    * The pinned-width repartition sits BELOW the kernel: documents is a
    * single parquet file (one row group → a 1-task scan), so a kernel
    * computed scan-side serializes on one core at the head of every
    * dedup query's critical path. Shipping the raw text through the
    * exchange (cheaper than the shingle arrays it replaces) lets the
    * kernel run at full width in each consumer stage; the exchange
    * itself is reused across all consumer subtrees. */
  private def shingled(docs: org.apache.spark.sql.DataFrame,
                       width: Option[Int] = None) =
    docs
      .repartition(width.getOrElse(
        docs.sparkSession.sessionState.conf.numShufflePartitions),
        col("doc_id"))
      .select(col("doc_id"),
        graft.functions.TextFunctions.shingles(col("text")).as("sh"))

  /** Hash-repartition with the partition COUNT pinned (REPARTITION_BY_NUM).
    * AQE's partition coalescing sizes stages by shuffle BYTES; the dedup
    * verify stages downstream of these exchanges cost ~1000s of CPU
    * cycles per byte (set-fold kernels over shingle arrays), so
    * byte-based coalescing serializes them onto 2-3 cores (measured: the
    * q33 verify at 20 CPU-s / 3 tasks / 7 s wall once the hash-only index
    * shrank the exchange below the advisory size). Pinning the count
    * keeps kernel stages at full width; the exchange itself stays tiny. */
  private def pinned(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, cols: _*)

  /** Dedup verify-join build side (the doc_id → shingle-array table).
    * At local test SF it sits right AT AQE's 10 MB broadcast threshold,
    * so the physical join flips run-to-run between broadcast-hash (fast:
    * the UDF-filter streams, arrays never shuffle) and sort-merge (2-4×
    * slower: sorts + shuffles the wide arrays, heavy GC). Force the
    * broadcast only while the ESTIMATED build-side bytes stay bounded:
    * verify rows carry full shingle arrays (~3× the text bytes — each
    * word lands in ~3 three-word shingles), so the q35 doc-COUNT switch,
    * calibrated for 16-byte simhash rows, would near its 1M limit force
    * a multi-GB broadcast precisely where AQE's byte threshold was
    * protecting the executors.
    *
    * Past the byte cap the join must shuffle — but NOT sort-merge:
    * sort-merge sorts the probe side, and by the second verify join the
    * probe is the candidate stream carrying the first join's shingle
    * arrays (candidates × array bytes — linear, but wide), so the sort
    * externalizes. Measured at the synthetic-sf10 decade (500k docs,
    * first beyond-cap corpus, SCALING_r10/BASELINE.md r10): q88 spilled
    * 40 GB and ran 75 s wall under sort-merge. A shuffled HASH join
    * builds on THIS side instead — per partition it holds only its
    * doc-array slice (total/numPartitions, bounded by the same
    * partition sizing as any scan) and streams the candidate side with
    * no sort at all. Candidate order is irrelevant downstream (the
    * verify filter is per-row; q33 re-sorts only its tiny output), so
    * the sort was pure waste. */
  private val verifySideMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), java.lang.Long]

  /** Memoized corpus-size estimate (one count+sum over documents per
    * (session, sfDir)): ~3 bytes of shingle per text byte + 48 B/row of
    * array/id overhead — the verify build-side estimate, and since r11
    * also the base every other byte-derived width in this file scales
    * from (q99's gram exchange: est/3 ≈ total chars). One memoized scan
    * feeds them all — q33 alone is rebuilt ~9× per session and q99 must
    * not re-pay a corpus aggregate per construction. */
  private def docsEstBytes(s: SparkSession, d: String): Long = {
    verifySideMemo.keySet.removeIf(_._1.sparkContext.isStopped)
    verifySideMemo.computeIfAbsent((s, d), _ => {
      val stats = documents(s, d)
        .agg(count(lit(1)).as("n"), coalesce(sum(col("n_chars")), lit(0L)).as("b"))
        .head()
      stats.getLong(0) * 48L + stats.getLong(1) * 3L
    })
  }

  private val custStatsMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), java.lang.Long]

  /** Memoized q84 variant-inventory estimate (one count+sum(length)
    * over the customer dim per (session, sfDir), the docsEstBytes
    * treatment — this runs eagerly at plan-construction time, so
    * unmemoized it would bill a driver round-trip to every bench
    * construction): each side explodes len+1 deletion variants of
    * ~len chars + ~24 B of ids per name. */
  private def custVariantEstBytes(s: SparkSession, d: String): Long = {
    custStatsMemo.keySet.removeIf(_._1.sparkContext.isStopped)
    custStatsMemo.computeIfAbsent((s, d), _ => {
      val st = customer(s, d)
        .agg(count(lit(1)).as("n"),
          coalesce(sum(length(col("c_name")).cast("long")), lit(0L)).as("l"))
        .head()
      val nCust = st.getLong(0); val sumLen = st.getLong(1)
      val avgLen = if (nCust > 0) sumLen / nCust else 0L
      (sumLen + nCust) * (avgLen + 24L)
    })
  }

  /** The two plan knobs of a dedup verify join, derived together from
    * the estimated build-side bytes. `attach` wraps the doc-array side:
    * `broadcast` under the cap, `shuffle_hash` past it. `width` is the
    * byte-derived partition count of the shuffle regime — a hinted
    * shuffled-hash build side cannot spill, so its per-partition slice
    * must be SIZED, not hoped for: with the session's pinned 32
    * partitions a 10× bigger corpus puts 10× the arrays in every build
    * map and eventually OOMs where sort-merge would have (slowly)
    * spilled. Scaling the width with the bytes keeps each build slice
    * ~[[VerifyBuildSliceBytes]] at ANY corpus size — the property the
    * broadcast cap provides below it. */
  private[graft] final case class VerifyJoin(
      attach: DataFrame => DataFrame, width: Option[Int]) {
    /* The byte-derived `width` must reach the physical plan through
     * BOTH join children, and the cheap carrier for the build side is
     * the [[shingled]] doc_id pin upstream (its partitioning propagates
     * through the doc_id→doc_a/doc_b ALIASES, so the build side arrives
     * at the join already hash-clustered on the key at the pin's
     * count). Two measured wrong turns, kept here so they stay wrong:
     * a probe-side-only repartition(n) is REWRITTEN by
     * EnsureRequirements, which plans the unpartitioned build side at
     * the session default and co-partitions the probe DOWN to it (the
     * 42-partition REPARTITION_BY_NUM printed as 32); an explicit
     * build-side repartition(n, key) inside attach preserved the width
     * but DUPLICATED the doc-array exchange the alias propagation
     * otherwise avoids (+420 MB/query at the sf10 decade, +84% on
     * q34's total). */
    /** Probe-side pin before the FIRST verify join: the kernel stages
      * downstream inherit this width (see [[pinned]] for why AQE's
      * byte-based coalescing must not size them); in the shuffle regime
      * the byte-derived width also bounds the build slice the hash join
      * materializes per task. */
    def pinFirst(df: DataFrame, key: String): DataFrame =
      df.repartition(width.getOrElse(
        df.sparkSession.sessionState.conf.numShufflePartitions), col(key))
    /** Probe-side re-pin between the two verify joins — shuffle regime
      * only: the second join re-shuffles the pair+array stream on its
      * key regardless, the explicit count just keeps that exchange and
      * the matching build-side shuffle at the byte-derived width. A
      * broadcast verify needs no exchange here at all, so this is a
      * no-op under the cap (adding one would insert a gratuitous
      * shuffle of the fattest stream in the query). */
    def pinMid(df: DataFrame, key: String): DataFrame =
      width.map(n => df.repartition(n, col(key))).getOrElse(df)
    /** The full two-join verify choreography every dedup verify
      * shares: pin the candidate stream on `keyA`, attach `buildA`
      * (two columns: the key + the shingle array), re-pin on `keyB`,
      * attach `buildB`; the caller computes its exact measure over the
      * returned string arrays. ONE body across q33/q34/q88/q76 so a
      * verify-join change cannot silently desync the family.
      *
      * Shuffle regime only (width defined): a LOSSLESS HASH PREFILTER
      * runs first — the dominant beyond-cap exchange is candidates ×
      * STRING-array bytes, so the candidate joins instead ride the
      * distinct-sorted xxhash64 image of each set (8 B/shingle,
      * ~2.5× fewer bytes), prefilter on `measureOnCounts(|∩|, |a|,
      * |b|)` over the hash image, and only the SURVIVORS (output-scale)
      * get string arrays attached — from build sides semi-joined down
      * to the surviving docs, so the confirm joins move doc-count
      * bytes, not candidate-count bytes. Losslessness is
      * PROBABILISTIC, not absolute (r10 ADVICE): a collision that
      * merges an intersection element with a non-member raises the
      * image |∩| or shrinks |a|,|b| — jaccard i/(na+nb−i) and
      * containment i/na nondecreasing, pair survives — but a collision
      * between two distinct shingles BOTH in a true pair's
      * intersection shrinks |∩| along with both sizes and can push the
      * image measure below threshold (a={x,y,z}, b={x,y,w}, h(x)=h(y):
      * jaccard 0.5 → 1/3). A drop needs that 64-bit WITHIN-PAIR
      * collision — ~2^-64 per shingle pair, unobservable at any corpus
      * scale this engine targets — and the caller's exact string-side
      * filter remains authoritative for everything that survives
      * (output-pinned across regimes in TextOpsSpec).
      *
      * `hashPrefilter = false` opts a caller out: the win scales with
      * candidates-per-doc, so it pays for the WIDE candidate
      * generators (AllPairs prefixes — q33/q88/q76: shuffle −35-40%,
      * q88 sf20 32→19 GB measured) and it LOSES for generators whose
      * candidates are already output-scale (q34's LSH bands: +13%
      * bytes for the hash-image build + confirm machinery — measured
      * at the same decades, BASELINE.md r10). */
    def verify(cands: DataFrame, keyA: String, buildA: DataFrame,
               keyB: String, buildB: DataFrame,
               measureOnCounts: (Column, Column, Column) => Column,
               threshold: Double,
               hashPrefilter: Boolean = true): DataFrame = {
      def choreography(pairs: DataFrame, bA: DataFrame, bB: DataFrame) =
        pinMid(pinFirst(pairs, keyA).join(attach(bA), Seq(keyA)), keyB)
          .join(attach(bB), Seq(keyB))
      if (width.isEmpty || !hashPrefilter) choreography(cands, buildA, buildB)
      else {
        import graft.functions.GraftFunctions.hashedShingles
        val arrA = buildA.columns.find(_ != keyA).get
        val arrB = buildB.columns.find(_ != keyB).get
        val survivors = choreography(cands,
            buildA.select(col(keyA), hashedShingles(col(arrA)).as("__ha")),
            buildB.select(col(keyB), hashedShingles(col(arrB)).as("__hb")))
          .filter(measureOnCounts(
            size(array_intersect(col("__ha"), col("__hb"))).cast("long"),
            size(col("__ha")).cast("long"),
            size(col("__hb")).cast("long")) >= threshold)
          .select(col(keyA), col(keyB))
          // three consumers (probe + both semi-join filters) — the
          // prefilter pass must run once, not thrice; survivor pairs
          // are output-scale, so the materialization is tiny
          .transform(graft.CacheRegistry.trackPersist(_))
        // the key-distincts pin at the verify width too: the groupBy
        // then reuses the repartition (no second exchange) and the
        // semi joins stay co-partitioned with the width-pinned builds
        choreography(survivors,
          buildA.join(pinFirst(survivors.select(col(keyA)), keyA).distinct(),
            Seq(keyA), "left_semi"),
          buildB.join(pinFirst(survivors.select(col(keyB)), keyB).distinct(),
            Seq(keyB), "left_semi"))
      }
    }
  }

  private def verifySide(s: SparkSession, d: String): VerifyJoin = {
    // memoized per (session, sfDir), the trainStepsMemo treatment: this
    // decision runs at PLAN-CONSTRUCTION time and q33 alone is rebuilt
    // by q42/q58/q62/q63/q72/q82 (plus q34/q76/q88) — unmemoized, one
    // verify pass paid the corpus-wide stats aggregate ~9 times for one
    // number that cannot change within a session
    val estBytes: Long = docsEstBytes(s, d)
    if (estBytes <= VerifyBroadcastBytes) VerifyJoin(broadcast(_), None)
    else VerifyJoin(
      _.hint("shuffle_hash"),
      // clamp: past ~64k partitions per-task scheduling dominates any
      // slice-size win on any realistic cluster — at that corpus scale
      // the deployment sets spark.sql.shuffle.partitions itself and
      // the max() lets that conf win
      Some(byteDerivedWidth(s, estBytes, VerifyBuildSliceBytes)))
  }

  /** 64 MB: deliberately above the 10 MB advisory (the verify build side
    * must not flip to sort-merge at test SF) yet a bounded per-executor
    * memory cost at any corpus size. */
  private val VerifyBroadcastBytes = 64L << 20

  /** Target raw-array bytes per shuffled-hash build slice (the in-memory
    * HashedRelation expands this ~4×, landing each task's build around
    * the broadcast cap). */
  private val VerifyBuildSliceBytes = 16L << 20

  /** ONE clamp for every byte-derived exchange width in this file
    * (verify joins, q84's variant join, q99's three exchanges — r11
    * review: five hand-maintained copies of the same formula desync
    * the moment the policy changes): estimated bytes over the slice,
    * never below the session default (the deployment conf wins below
    * the threshold, keeping bench-SF plans untouched), clamped at 64k
    * partitions (past that per-task scheduling dominates any
    * slice-size win; a real deployment sets the session conf itself). */
  private[graft] def byteDerivedWidth(s: SparkSession, estBytes: Long,
                                      sliceBytes: Long): Int =
    math.min(1 << 16,
      math.max(s.sessionState.conf.numShufflePartitions,
        (estBytes / sliceBytes).toInt + 1))

  /** The reproducible engine-independent doc_id hashes every sampling /
    * splitting / ordering query keys on — ONE definition each (with the
    * oracles restating the same literals) so a constant tweak applied to
    * one query cannot silently desync q43/q58/q82's 80/10/10 split or
    * q44/q53/q97/q102's hash order from its siblings. Pre-reduced mod
    * BEFORE the multiply: raw doc_id · 2654435761 overflows BIGINT
    * (ANSI: throws) for doc_id ≳ 3.47e9 — inside a 100 TB corpus. */
  private[graft] val splitBucket: org.apache.spark.sql.Column =
    (col("doc_id") % 100) * 2654435761L % 100
  private[graft] val splitOf: org.apache.spark.sql.Column =
    when(splitBucket < 80, "train").when(splitBucket < 90, "val").otherwise("test")
  private[graft] val docOrdKey: org.apache.spark.sql.Column =
    (col("doc_id") % 1000003L) * 2654435761L % 1000003L

  private val duckShingles: String =
    """list_distinct([array_to_string(w[i:i+2], ' ')
      |  for i in range(1, greatest(len(w) - 2, 0) + 1)])"""
      .stripMargin.replace("\n", " ")

  /** Sub-quadratic candidate CTEs for the Jaccard/containment pair
    * oracles — the same AllPairs prefix filter (Bayardo et al., WWW'07
    * "Scaling Up All Pairs Similarity Search") the Spark side runs, so
    * the DuckDB side stops being O(N²) and the whole dedup family
    * graduates out of the sf0.1 pruned-oracle set. LOSSLESS, not
    * approximate: J(A,B) >= num/den forces |A∩B| >= ceil(num·|A|/den),
    * so under one global token order (ascending document frequency,
    * token text as tiebreak) A's first |A| - ceil(num·|A|/den) + 1
    * tokens must intersect B's prefix (symmetric argument for B) — any
    * surviving pair shares a prefix token, and the exact Jaccard verify
    * downstream is unchanged, so the final rows (and their doubles) are
    * identical to the all-pairs form; equality was checked row-for-row
    * against the old oracles at sf0.01 before the swap. ceil is done in
    * integers ((num·n + den-1) // den) — no float boundary at n % den
    * == 0. Containment C(A,B) = |A∩B|/|A| >= num/den only bounds A's
    * side, so its callers join A's prefix against B's FULL inventory
    * (`bRel = "tok"`). Expects a preceding CTE `sh(doc_id, sh)`; yields
    * `cand(doc_a, doc_b)` (DISTINCT) for the caller to verify exactly. */
  private def duckPrefixCands(num: Int, den: Int, pairCond: String,
                              bRel: String = "pref"): String =
    s"""tok AS (SELECT doc_id, unnest(sh) AS t, len(sh) AS n FROM sh),
       |dfq AS (SELECT t, count(*) AS dfreq FROM tok GROUP BY t),
       |rk AS (SELECT doc_id, t, n, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY dfreq, t) AS r FROM tok JOIN dfq USING (t)),
       |pref AS (SELECT doc_id, t FROM rk
       |  WHERE r <= n - (($num * n + ${den - 1}) // $den) + 1),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pref a JOIN $bRel b ON a.t = b.t AND ($pairCond))""".stripMargin

  /** Exact-verify Jaccard over the candidate pairs (same expression as
    * the retired all-pairs form, aliased to `sa`/`sb` full lists). */
  private val duckJaccSaSb: String =
    """CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
      |    (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))""".stripMargin

  // ------------------------------------------------------------ q30 stats

  /** q30: token counting + quality scoring (length/stopword/alpha ratios). */
  def q30TextStats(s: SparkSession, d: String): DataFrame = {
    val toks = litSplit(col("text"), " ")
    val nTokens = size(toks).cast("long")
    val stop = array(Seq("the", "a", "of", "is", "and", "to").map(lit): _*)
    val nStop = size(filter(toks, t => array_contains(stop, t))).cast("long")
    val nAlnumSpace = length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""))
    val stopRatio = nStop.cast("double") / nTokens
    // length(text) = 0 is in-domain (an empty document); ANSI divides
    // THROW on zero, so the alpha-ratio term needs the guard — mirrored
    // in the oracle so both engines score an empty doc identically
    // (nTokens is never 0: split('', ' ') yields ['']). The guard tests
    // `=== 0` (not `> 0`) so a NULL text falls through to the ratio and
    // propagates NULL in BOTH engines — `> 0` here with otherwise(0.0)
    // would score a NULL text 0.0 in Spark but NULL in the oracle's
    // `CASE WHEN length = 0` form, a latent parity divergence.
    val alphaRatio = when(length(col("text")) === 0, lit(0.0))
      .otherwise(nAlnumSpace.cast("double") / length(col("text")))
    val quality =
      lit(0.4) * least(lit(1.0), nTokens.cast("double") / 100.0) +
        lit(0.3) * (lit(1.0) - stopRatio) +
        lit(0.3) * alphaRatio
    documents(s, d).select(
        col("doc_id"),
        nTokens.as("n_tokens"),
        // BPE-ish subword count: alpha runs, digit runs, single symbols.
        // The whitespace class is spelled out, never \s: Java's \s
        // includes vertical tab U+000B, RE2's (DuckDB) does not — a
        // corpus carrying a VT would count it as a subtoken in one
        // engine only
        size(regexp_extract_all(col("text"),
          lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]"), lit(0))).cast("long")
          .as("n_subtokens"),
        length(col("text")).cast("long").as("n_chars_computed"),
        nStop.as("n_stopwords"),
        stopRatio.as("stop_ratio"),
        ((length(col("text")) - nTokens + 1).cast("double") / nTokens).as("avg_word_len"),
        quality.as("quality_score"))
      .orderBy(col("doc_id"))
  }

  // ----------------------------------------------------------- q31 langid

  /** q31: n-gram/marker-word language ID heuristic with a deterministic
    * argmax (ties break en > es > de > fr > zh). */
  def q31LangId(s: SparkSession, d: String): DataFrame = {
    val toks = litSplit(col("text"), " ")
    def score(words: Seq[String]) = {
      val set = array(words.map(lit): _*)
      size(filter(toks, t => array_contains(set, t))).cast("long")
    }
    val en = score(Seq("the", "a", "is", "of"))
    val es = score(Seq("el", "la", "los", "de"))
    val de = score(Seq("der", "die", "und", "das"))
    val fr = score(Seq("le", "les", "est", "une"))
    val zh = score(Seq("的", "是", "不"))
    val pred =
      when(en >= es && en >= de && en >= fr && en >= zh, "en")
        .when(es >= de && es >= fr && es >= zh, "es")
        .when(de >= fr && de >= zh, "de")
        .when(fr >= zh, "fr")
        .otherwise("zh")
    documents(s, d).select(
        col("doc_id"), col("lang").as("labeled_lang"),
        en.as("s_en"), es.as("s_es"), de.as("s_de"), fr.as("s_fr"), zh.as("s_zh"),
        pred.as("predicted_lang"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------ q32 exact dedup

  /** q32: exact dedup — hash-aggregate on a content digest, keep min id.
    * One shuffle on the digest; at 100 TB this is the map-side-combinable
    * canonical dedup. */
  def q32DedupExact(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("content_md5"))
      .groupBy(col("content_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("group_size"))
      .orderBy(col("keep_id"))

  // --------------------------------------------------- q33 n-gram Jaccard

  /** q33: exact n-gram Jaccard near-dup pairs (threshold 0.8) via
    * prefix-filtered inverted-index join (AllPairs/PPJoin family,
    * Bayardo et al. WWW'07): under a global shingle order, two sets with
    * J ≥ t MUST share a shingle within their (n − ⌈t·n⌉ + 1)-prefixes, so
    * only prefix shingles enter the index — ~5× fewer index rows, ~25×
    * fewer candidate pairs than the full inverted index at t = 0.8, and a
    * length-ratio filter (min ≥ t·max) prunes the rest before the exact
    * verification join. Output identical to the naive plan (every
    * candidate is exact-verified). */
  def q33NgramJaccard(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.jaccardSim
    // barrier: keep the shingle kernel evaluated once per consumer
    // (projection collapse would re-run it inside the explode). The
    // shingled table has four consumers (both index sides + both verify
    // sides); measured at sf0.1, re-running the columnar scan + JIT'd
    // kernel 4× is CHEAPER cold than materializing the wide shingle-array
    // cache (3.3 s vs 5.9 s) — caching wide arrays pays serialization +
    // memory pressure and drops whole-stage codegen under the
    // InMemoryTableScan. At real cluster scale the signature table would
    // be checkpointed to storage once and shared by every dedup consumer;
    // in-session, only the tiny pair-list output below is cached.
    // the verify width rides this pin into both verify-join build sides
    // through the doc_id aliases (see VerifyJoin)
    val docs = shingled(documents(s, d), verifySide(s, d).width)
      .select(col("doc_id"), col("sh"), size(col("sh")).as("n"))
    // Global prefix order = (document frequency asc, hash) — AllPairs'
    // canonical rarest-first order, made the DEFAULT in round 9 on the
    // SkewProbe A/B at the synthetic-sf1 decade (BASELINE.md): a
    // boilerplate shingle in 30% of 50k docs sent the previous
    // hash-ordered prefix to 24.5 s (every index task grinding the hot
    // key's ~df²/25 candidate cross-product — a hot shingle whose hash
    // lands in the bottom ~20% quantile enters the prefix of ~every doc
    // containing it, and the blow-up grows QUADRATICALLY in the hot df),
    // while this order ran the same corpus in 2.9 s: a high-df shingle
    // sorts LAST and falls out of every prefix by construction. Price on
    // uniform corpora: the df pass adds two linear hash-only token-
    // inventory exchanges (groupBy h + join) and a per-doc window —
    // ~+70% on q33 alone (~1-2 s at bench SF), the measured premium for
    // deleting a quadratic cliff.
    val cands = pairCands(dfOrderedPrefix(docs, 4, 5))
    q33Verify(s, d, docs, cands)
      // the pair list is tiny (near-dups are rare by definition) and has
      // two downstream consumers (q42 survivors, q58 release) —
      // materialize once, CacheManager rewrites their identical subtrees
      .transform(graft.CacheRegistry.trackPersist(_))
  }

  /** Shared candidate-verify tail of q33 and q34: exact-Jaccard verify
    * of (doc_a, doc_b) candidates at 0.8 over the full shingle arrays.
    * The first pin also fixes the candidate exchange's width: the verify
    * joins inherit their stage parallelism from it, and the per-pair
    * fold is the dominant CPU. */
  private def q33Verify(s: SparkSession, d: String,
                        docs: DataFrame, cands: DataFrame,
                        hashPrefilter: Boolean = true): DataFrame = {
    import graft.functions.GraftFunctions.jaccardSim
    val v = verifySide(s, d)
    v.verify(cands,
        "doc_a", docs.select(col("doc_id").as("doc_a"), col("sh").as("sha")),
        "doc_b", docs.select(col("doc_id").as("doc_b"), col("sh").as("shb")),
        (i, na, nb) => i.cast("double") / (na + nb - i), 0.8,
        hashPrefilter)
      .withColumn("jaccard", jaccardSim(col("sha"), col("shb")))
      .filter(col("jaccard") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** df-ordered prefix index rows (doc_id, n, h) at threshold num/den:
    * each doc keeps its n - ceil(num·n/den) + 1 rarest shingles under
    * the global (document frequency asc, hash) order. The index carries
    * ONLY the 64-bit hash: every candidate is exact-verified downstream,
    * so a hash collision can only add a candidate the verify rejects —
    * recall untouched (hash-equal ⊇ string-equal), exchange rows 8-byte
    * longs. ceil in exact integers ((num·n + den-1) div den). */
  private def dfOrderedPrefix(docs: DataFrame, num: Int, den: Int): DataFrame = {
    val tok = docs.select(col("doc_id"), col("n"), explode(col("sh")).as("s"))
      .select(col("doc_id"), col("n"), xxhash64(col("s")).as("h"))
    val dfreq = tok.groupBy(col("h")).agg(count(lit(1)).as("dfreq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("dfreq"), col("h"))
    tok.join(dfreq, "h")
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= col("n") - expr(s"($num * n + ${den - 1}) div $den") + 1)
      .select(col("doc_id"), col("n"), col("h"))
  }

  /** Symmetric candidate pairs from a prefix index: equi-join on the
    * prefix hash, ordered ids, length-ratio prune (J >= 0.8 forces
    * 4·min(n) <= 5·max(n)), distinct. */
  private def pairCands(pref: DataFrame): DataFrame =
    pref.as("a").join(pref.as("b"),
        col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * 4 <= col("b.n") * 5 && col("b.n") * 4 <= col("a.n") * 5)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** Shared DuckDB oracle for q33/q34: exact pairwise Jaccard at
    * threshold num/den (prefix-filter candidates + exact verify — same
    * rows as the retired all-pairs form, feasible at sf0.1; the Spark
    * side must match it exactly, which also proves LSH recall). */
  private def jaccardOracle(num: Int, den: Int, thr: String): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
       |sh AS (SELECT doc_id, $duckShingles sh FROM w),
       |${duckPrefixCands(num, den, "a.doc_id < b.doc_id")},
       |p AS (SELECT doc_a, doc_b, $duckJaccSaSb AS jaccard
       |  FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a
       |            JOIN sh sb ON sb.doc_id = cand.doc_b)
       |SELECT doc_a, doc_b, jaccard FROM p WHERE jaccard >= $thr
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------ q34 MinHash-LSH

  /** q34: MinHash (128 perms) + banded LSH (32×4) candidates + exact
    * verification. Permutation i over the base hash
    * h = xxhash64(s) mod p (p = 1e9+7): h_i = (2i+1)·h + i²+7 — products
    * stay < 2^39, safe under Spark 4's default ANSI overflow checking. */
  def q34MinhashLsh(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.jaccardSim
    import graft.functions.GraftFunctions.minhashSig
    // pinned repartition = materialization barrier ABOVE the signature
    // kernel: the band explode's transform lambda references `sig` once
    // per band element, so a collapsed projection would re-run the
    // 128-perm kernel 32× per row. With shingled's exchange below and
    // this one above, both kernels run once per row at full width.
    val v = verifySide(s, d)
    val docs = v.pinFirst(shingled(documents(s, d), v.width)
      .withColumn("sig", minhashSig(col("sh"))), "doc_id")
      // four consumers (both band sides + both verify sides); as in q33,
      // re-running the scan + kernels beats caching the wide arrays cold
    val bands = docs.select(col("doc_id"),
        explode(expr(
          "transform(sequence(0, 31), b -> struct(b AS band, xxhash64(slice(sig, b*4+1, 4)) AS bh))"))
          .as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val cands = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // no hash prefilter: LSH band candidates are already output-scale,
    // so the hash-image pass is pure overhead (+13% bytes measured at
    // the sf10/sf20 decades — VerifyJoin.verify scaladoc / BASELINE.md)
    q33Verify(s, d, docs.select(col("doc_id"), col("sh")), cands,
      hashPrefilter = false)
  }

  // --------------------------------------------------------- q35 SimHash

  /** q35: 64-bit SimHash over tokens + hamming-distance (≤3) near-dup
    * pairs. Token hash is md5-derived so the DuckDB oracle mirrors it
    * bit-for-bit.
    *
    * Two physically different plans with identical output (equivalence
    * pinned by TextOpsSpec), picked by corpus size:
    *
    *   - small (signature table broadcasts): broadcast nested-loop join
    *     with a codegen'd `bit_count(xor)` filter — ~N²/2 popcounts, no
    *     shuffle, no skew. On THIS clustered corpus (~50-word vocabulary)
    *     it also beats blocking at sf0.1 (measured 17×) because the
    *     degenerate chunk buckets approach full-table pairs anyway.
    *   - large ([[q35SimhashBlocked]]): pigeonhole chunk blocking — the
    *     signature table no longer fits a broadcast, so candidates come
    *     from a bucketed equi-join instead of an all-pairs scan. */
  def q35Simhash(s: SparkSession, d: String): DataFrame =
    // parquet-footer count: cheap plan-choice probe, no full scan
    if (documents(s, d).count() <= BroadcastDocLimit)
      q35SimhashBroadcast(s, d)
    else q35SimhashBlocked(s, d)

  /** ~16 bytes/doc of (doc_id, simhash): 1M docs ≈ 16 MB — above the
    * default 10 MB autoBroadcastJoinThreshold a broadcast stops being the
    * right physical plan, so switch to the blocked join. */
  private val BroadcastDocLimit = 1000000L

  private[queries] def q35SimhashBroadcast(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.{simhash => simhashUdf}
    // barrier: materialize the 16-byte/doc signature table before the
    // quadratic join — otherwise the kernel re-evaluates per PAIR
    // (measured 254 s vs <5 s at sf0.1)
    val docs = documents(s, d)
      .select(col("doc_id"), simhashUdf(col("text")).as("simhash"))
      .repartition(col("doc_id"))
    val a = docs.select(col("doc_id").as("doc_a"), col("simhash").as("ha"))
    val b = docs.select(col("doc_id").as("doc_b"), col("simhash").as("hb"))
    a.join(broadcast(b), col("doc_a") < col("doc_b") &&
        expr("bit_count(ha ^ hb)") <= 3)
      .withColumn("hamming", expr("CAST(bit_count(ha ^ hb) AS BIGINT)"))
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The 100 TB path: pigeonhole on 4 × 16-bit chunks — a pair with
    * hamming ≤ 3 differs in at most 3 chunks, so it shares at least one
    * identical chunk and is found by an equi-join on (chunk index, chunk
    * value). Both sides shuffle on the chunk key (no broadcast, no
    * all-pairs scan); `distinct()` dedups pairs sharing several chunks
    * before the exact popcount verify. Skew note: a pathologically
    * clustered corpus degenerates buckets toward all-pairs — AQE skew-join
    * splits oversized buckets; bucket capping/salting would change the
    * output, so it is deliberately NOT applied. */
  private[queries] def q35SimhashBlocked(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.{simhash => simhashUdf}
    val docs = documents(s, d)
      .select(col("doc_id"), simhashUdf(col("text")).as("simhash"))
      .repartition(col("doc_id"))
    val keyed = docs.select(col("doc_id"), col("simhash"),
        explode(expr("transform(sequence(0, 3), i -> " +
          "struct(i AS ci, shiftright(simhash, i * 16) & 65535 AS cv))")).as("k"))
      .select(col("doc_id"), col("simhash"), col("k.ci").as("ci"), col("k.cv").as("cv"))
    keyed.as("a").join(keyed.as("b"),
        col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("ha"), col("b.simhash").as("hb"))
      .distinct()
      .filter(expr("bit_count(ha ^ hb)") <= 3)
      .withColumn("hamming", expr("CAST(bit_count(ha ^ hb) AS BIGINT)"))
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ------------------------------------------------- q38 fingerprinting

  /** q38: document fingerprinting — content digest + polynomial rolling
    * hash over tokens (mod 1e9+7), both mirrored exactly in the oracle. */
  def q38Fingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
        col("doc_id"),
        md5(regexp_replace(lower(col("text")), "[^a-z0-9]", "")).as("content_md5"),
        expr(
          """aggregate(
            |  transform(split(text, ' '), w -> CAST(length(w)*17 + ascii(substring(w, 1, 1)) AS BIGINT)),
            |  CAST(0 AS BIGINT),
            |  (acc, v) -> pmod(acc * 31 + v, CAST(1000000007 AS BIGINT)))"""
            .stripMargin.replace("\n", " ")).as("rolling_hash"))
      .orderBy(col("doc_id"))

  /** q42: the deduplicated corpus — documents surviving near-dup removal
    * (keep the smallest doc_id of every near-dup relation; drop every
    * doc_b). The actual training-set deliverable that q33/q34 pair
    * detection feeds. */
  def q42NeardupSurvivors(s: SparkSession, d: String): DataFrame = {
    val dupBs = q33NgramJaccard(s, d).select(col("doc_b").as("doc_id")).distinct()
    documents(s, d)
      .join(dupBs, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** q62: near-dup cluster assignment — connected components over the
    * q33 pair graph with min-label canonicalization: every document gets
    * the smallest doc_id transitively reachable through ≥0.8-Jaccard
    * edges as its cluster_id (docs in no pair are their own singleton).
    * The third leg of the dedup triptych: q33 finds PAIRS, q42 keeps
    * SURVIVORS, q62 names the FAMILIES — what you need to keep one
    * canonical doc per group or audit family sizes; pair-at-a-time
    * dedup under-removes when A~B, B~C but A̸~C.
    *
    * Alternating large-star/small-star to fixpoint (Kiveris et al.
    * 2014, "Connected Components in MapReduce and Beyond" — the
    * literature's shared-nothing CC). Scale design: the rounds run
    * ONLY over the edge list (near-dups are a sliver of the corpus —
    * the untouched majority joins back once at the end); each
    * half-round is one hash-exchange on the star center plus a
    * distinct; rounds are O(log n) in COMPONENT SIZE — not diameter —
    * so a 100 TB corpus's adversarial chain-shaped dup families (the
    * case that makes min-label propagation crawl at diameter rounds)
    * finish in the same handful of passes as shallow ones. The r7
    * driver union-find fast path is REMOVED (r7 verdict task 4): with
    * log-round convergence the distributed path costs a few scheduling
    * rounds at toy scale and wins everywhere else, and one code path
    * beats two guarded ones. The min-label propagator below is kept as
    * an independent implementation, spec-pinned label-identical. */
  /** The CC label table is memoized per (session, sfDir) — the q104
    * trainMemo treatment (r15): [[ccLabelsStar]] is a DRIVER-side loop
    * (per round: two counts + an except-isEmpty + localCheckpoints), so
    * the CacheManager's plan-matched reuse cannot skip it — q72 (and
    * any family composition) re-drove the whole loop per call even with
    * every frame cached. The memoized frame roots at the loop's final
    * localCheckpointed RDD (data, not plans — the trainSteps contract);
    * [[clearTrainMemo]] clears it at every isolation point (Verify
    * per-query, Bench retakes, ScaleSweep/StageClock reps), so no
    * measurement ever reads invisibly-warm labels. */
  private val ccLabelsMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]

  /** Memo RECALLS (a call served by an entry an earlier call built) —
    * Bench reads the delta around each timed query to disclose
    * memo-consumer queries on the published line (`memo_hits`, r15
    * verdict: q72's per-query second is amortization, not cost-from-
    * cold, and the artifact should say so itself). Builds don't count. */
  private val memoRecallCount = new java.util.concurrent.atomic.AtomicLong
  private[graft] def memoRecalls: Long = memoRecallCount.get

  def q62DupClusters(s: SparkSession, d: String): DataFrame = {
    ccLabelsMemo.keySet.removeIf(_._1.sparkContext.isStopped)
    val key = (s, d)
    // get-then-putIfAbsent, NOT computeIfAbsent (r15 ADVICE): the CC
    // loop is a multi-round driver-side Spark job and must not run
    // while holding the CHM bin lock — a concurrent caller on a
    // same-bin key would block for the loop's whole duration and a
    // reentrant call would deadlock/throw. A lost race costs one
    // duplicate build (the loser's blocks are released), never
    // wrongness.
    var labels = ccLabelsMemo.get(key)
    if (labels != null) memoRecallCount.incrementAndGet()
    else {
      // checkpoint the LABEL frame itself, not just the loop's edge
      // set (r15 ADVICE): ccLabelsStar returns the union+distinct
      // projection PLAN over the checkpointed edges, so a memo of that
      // plan re-executed two distinct shuffles on every warm recall —
      // materialized labels make recalls pure data reads.
      val built = ccLabelsStar(
        q33NgramJaccard(s, d).select(col("doc_a"), col("doc_b")))
        .localCheckpoint(true)
      val prev = ccLabelsMemo.putIfAbsent(key, built)
      if (prev != null) { unpersistCheckpointed(built); labels = prev }
      else labels = built
    }
    documents(s, d).select(col("doc_id"))
      .join(labels.withColumnRenamed("u", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Large-star/small-star connected components (Kiveris et al. 2014):
    * repeat [large-star; small-star] on the undirected edge set until
    * the edge set is stable, at which point every edge is (component
    * minimum → member) and labels read off directly.
    *
    *  - large-star, per center c over its full neighborhood N(c):
    *    every neighbor n > c re-attaches to m = min(N(c) ∪ {c}) —
    *    processed at the LOWER endpoint of each edge, so each edge is
    *    emitted exactly once per half-round;
    *  - small-star, per center c over its smaller neighbors
    *    N₋(c) = {n < c}: every n ∈ N₋(c) and c itself attach to
    *    m = min(N₋(c)).
    *
    * Each half-round computes neighborhood minima with a PARTIAL-
    * AGGREGABLE groupBy-min joined back on the center key (a window
    * over partitionBy(c) would funnel a star center's ~component-size
    * neighborhood through one sorted task — the skew case this
    * algorithm exists for; the groupBy's exchange carries one row per
    * center and the join back is AQE-skew-eligible), then dedups.
    * Edge multiplicity never grows (emissions ≤ inputs, then dedup'd),
    * and the per-round eager localCheckpoint cuts the loop's lineage
    * (the q104 lesson: self-referencing iteration must not compound
    * plans). Convergence probe: set equality via count + one-sided
    * except-isEmpty — aggregates only, no rows to the driver. */
  private[queries] def ccLabelsStar(pairs: DataFrame): DataFrame = {
    var edges = pairs
      .select(least(col("doc_a"), col("doc_b")).as("u"),
        greatest(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    var nEdges = edges.count()
    var converged = nEdges == 0
    while (!converged) {
      // Neighborhood minima via groupBy-min + join-back, NOT a window:
      // a window over partitionBy(c) funnels a high-degree center's
      // whole neighborhood through one sorted task — at convergence a
      // giant component's star center has ~component-size degree,
      // exactly the skew case this algorithm exists for. The groupBy
      // partial-aggregates map-side (the exchange carries one row per
      // center) and the join back is AQE-skew-eligible.
      // large-star over the bidirected neighborhood
      val bi = edges.select(col("u").as("c"), col("v").as("n"))
        .union(edges.select(col("v").as("c"), col("u").as("n")))
      val lsMin = bi.groupBy(col("c"))
        .agg(min(col("n")).as("mn"))
        .select(col("c"), least(col("mn"), col("c")).as("m"))
      val ls = bi.join(lsMin, Seq("c"))
        .filter(col("n") > col("c")) // m ≤ c < n ⇒ (m, n) is normalized
        // no self-loop filter needed: m ≤ c < n means u < v strictly
        .select(col("m").as("u"), col("n").as("v"))
        .distinct()
        // the small-star half consumes ls TWICE (ssMin build + join
        // back); checkpoint makes the second reference read data, not
        // re-run the large-star join+distinct if exchange reuse is
        // ever defeated
        .localCheckpoint(true)
      // small-star at the higher endpoint: centers are v, neighbors u < v
      val ssIn = ls.select(col("v").as("c"), col("u").as("n"))
      val ssMin = ssIn.groupBy(col("c")).agg(min(col("n")).as("m"))
      val ss = ssIn.join(ssMin, Seq("c"))
      val next = ss.filter(col("n") =!= col("m"))
        .select(col("m").as("u"), col("n").as("v"))
        .union(ssMin.select(col("m").as("u"), col("c").as("v")))
        .distinct()
        .localCheckpoint(true)
      val nNext = next.count()
      converged = nNext == nEdges && next.exceptAll(edges).isEmpty
      edges = next
      nEdges = nNext
    }
    // stable state: every edge is (root u = component min, member v)
    edges.select(col("v").as("u"), col("u").as("lbl"))
      .union(edges.select(col("u"), col("u").as("lbl")).distinct())
      .distinct()
  }

  /** Independent second implementation, kept for the equality pin in
    * TextOpsSpec: iterative min-label propagation to fixpoint — each
    * round one partial-aggregable groupBy-min + a key-joined update,
    * rounds = component DIAMETER (fine for shallow dup families; the
    * star loop above needs only O(log n) on chains). */
  private[queries] def ccLabelsDistributed(pairs: DataFrame): DataFrame = {
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = pairs.union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("u", "v").transform(graft.CacheRegistry.trackPersist(_, mem))
    var labels = edges.select(col("u")).distinct()
      .select(col("u"), col("u").as("lbl")).transform(graft.CacheRegistry.trackPersist(_, mem))
    var converged = false
    while (!converged) {
      val viaNbr = edges
        .join(labels.select(col("u").as("v"), col("lbl")), Seq("v"))
        .groupBy(col("u")).agg(min(col("lbl")).as("nl"))
      val next = labels.select(col("u"), col("lbl").as("old"))
        .join(viaNbr, Seq("u"), "left")
        .select(col("u"), col("old"),
          least(col("old"), coalesce(col("nl"), col("old"))).as("lbl"))
        .transform(graft.CacheRegistry.trackPersist(_, mem))
      converged = next.filter(col("lbl") =!= col("old")).isEmpty
      labels.unpersist()
      labels = next.select(col("u"), col("lbl"))
    }
    labels
  }

  /** q72: canonical-document selection — the action at the end of the
    * dedup chain: q33 finds PAIRS, q62 names FAMILIES, q72 picks the
    * KEEPER per family (longest doc wins, ties to the smallest id — the
    * "keep the most complete copy" policy corpus builds actually use,
    * vs q42's cruder keep-first-seen). One partial-aggregable
    * `max_by(struct)` per family over the cluster assignment — no
    * window sort; singleton families are filtered out (they need no
    * decision). */
  def q72CanonicalDocs(s: SparkSession, d: String): DataFrame = {
    val cl = q62DupClusters(s, d)
    // argmax WITHOUT the struct-buffer SortAggregate (r16, the last of
    // the q98/q39 family): ANY struct-valued aggregate buffer falls off
    // HashAggregate (not UnsafeRow-mutable), so the old
    // max_by(struct(doc_id, n_chars), struct(n_chars, -doc_id)) planned
    // as SortAggregate — a per-partition sort whose cost scales with
    // the cluster-assignment frame. Two-stage equivalent on fixed-width
    // buffers only: (1) collapse the tie-break per (cluster, n_chars) —
    // min(doc_id) is exactly max_by's -doc_id order among equal lengths;
    // (2) per cluster the surviving n_chars are DISTINCT, so
    // max_by(min_doc, n_chars) is deterministic and its (long, long)
    // buffer is HashAggregate-able, as are sum/max. Both stages
    // partial-aggregate map-side; the added second exchange carries one
    // row per (cluster, distinct length) — bounded by the first stage's
    // output, a sliver of the corpus. Ordering keys here are non-null
    // by construction (documents.n_chars is a generated column), which
    // is the only case where max_by-over-struct and this two-stage form
    // could diverge.
    documents(s, d).select(col("doc_id"), col("n_chars"))
      .join(cl, Seq("doc_id"))
      .groupBy(col("cluster_id"), col("n_chars"))
      .agg(count(lit(1)).as("nc"), min(col("doc_id")).as("min_doc"))
      .groupBy(col("cluster_id"))
      .agg(sum(col("nc")).as("n_members"),
        max(col("n_chars")).as("keep_chars"),
        max_by(col("min_doc"), col("n_chars")).as("keep_doc_id"))
      .filter(col("n_members") >= 2)
      .select(col("cluster_id"), col("n_members"),
        col("keep_doc_id"), col("keep_chars"))
      .orderBy(col("cluster_id"))
  }

  /** q88: containment join — DIRECTED near-dup: doc A is an excerpt /
    * quotation of doc B when |A∩B|/|A| ≥ 0.9, which symmetric Jaccard
    * misses entirely for size-mismatched pairs (a paragraph inside a
    * book has J ≈ 0). The prefix filter adapts: if C(A→B) ≥ t then B
    * contains one of A's (n_A − ⌈t·n_A⌉ + 1) smallest shingles, so the
    * index joins A-side PREFIXES against B's FULL inverted index — no
    * length-ratio pruning (the size-mismatched pairs are exactly the
    * point), B-side index bigger by construction. B's entries hash with
    * the native codegen'd xxhash64 (same seed as the kernel's). */
  def q88ContainmentJoin(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.containmentSim
    val docs = shingled(documents(s, d), verifySide(s, d).width)
      .select(col("doc_id"), col("sh"), size(col("sh")).as("n"))
    // index rows carry only the 64-bit hash (as in q33): the exact
    // containment verify below rejects any hash-collision candidate,
    // so recall is untouched and the big B-side index exchange ships
    // longs, not shingle strings. The A-prefix is df-ORDERED (round 9,
    // same SkewProbe adjudication as q33): containment only bounds the
    // excerpt side, so its prefix joins B's FULL inventory — with the
    // old hash order, a hot boilerplate shingle in an A-prefix matched
    // the full hot posting list (~0.1·df × df candidates: 14.2 s vs
    // this form's flat reading on the synthetic-sf1 hot corpus); under
    // rarest-first ordering high-df shingles never enter A-prefixes.
    val prefA = dfOrderedPrefix(docs, 9, 10)
      .select(col("doc_id").as("id_a"), col("h"))
    val fullB = docs.select(col("doc_id").as("id_b"),
        explode(col("sh")).as("s"))
      .select(col("id_b"), xxhash64(col("s")).as("h"))
    val cands = prefA.join(fullB, Seq("h"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val v = verifySide(s, d)
    v.verify(cands,
        "id_a", docs.select(col("doc_id").as("id_a"), col("sh").as("sha")),
        "id_b", docs.select(col("doc_id").as("id_b"), col("sh").as("shb")),
        (i, na, _) => i.cast("double") / na, 0.9)
      .withColumn("containment", containmentSim(col("sha"), col("shb")))
      .filter(col("containment") >= 0.9)
      .select(col("id_a").as("excerpt_id"), col("id_b").as("container_id"),
        col("containment"))
      .orderBy(col("excerpt_id"), col("container_id"))
  }

  /** q85: reference-integrity audit — the cross-table consistency check
    * every multi-asset corpus runs before release: documents without an
    * embedding (can't be semantically deduped/searched), embeddings
    * without a document (orphaned vectors), and embedding-dimension
    * consistency (a mixed-dim table breaks every downstream kernel).
    * ONE full-outer join + one aggregate — no driver-side assembly. */
  def q85ReferenceIntegrity(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"))
    val embs = embeddings(s, d)
      .select(col("vec_id"), size(col("embedding")).cast("long").as("dim"))
    docs.join(embs, col("doc_id") === col("vec_id"), "full_outer")
      .agg(
        count(col("doc_id")).as("n_docs"),
        count(col("vec_id")).as("n_embeddings"),
        sum(when(col("vec_id").isNull, 1L).otherwise(0L)).as("docs_without_embedding"),
        sum(when(col("doc_id").isNull, 1L).otherwise(0L)).as("embeddings_without_doc"),
        min(col("dim")).as("min_dim"),
        max(col("dim")).as("max_dim"))
  }

  /** q84: fuzzy join / entity resolution — match dirty strings to their
    * canonical records at edit distance ≤ 1 WITHOUT a quadratic
    * levenshtein scan: deletion-neighborhood blocking (FastSS, Bocek et
    * al.): BOTH sides explode into {s} ∪ its |s| single-char-deletion
    * variants and candidates are an EQUI-join on the variant — any
    * lev ≤ 1 pair shares a key (equality: s itself; insert/delete: the
    * shorter string is a variant of the longer; substitution at i:
    * deleting i from both yields the same string) — then an exact
    * levenshtein ≤ 1 verify discards the blocking's false positives
    * (e.g. transpositions, which share variants at lev 2). Earlier
    * revisions exploded only the canon side, which silently assumed
    * every match is one insertion — true for the current fixed-length
    * names, wrong the moment a regeneration ships variable-length ones;
    * the two-sided dictionary + verify is exact for ANY lengths, which
    * the unrestricted lev ≤ 1 oracle now genuinely proves.
    * Shuffle-bounded, no cross product. Dirty copies are synthesized by
    * dropping the char at position c_custkey mod len, deterministically
    * in both engines. Ambiguity surfaces as n_candidates > 1 with a
    * deterministic min-id pick.
    *
    * NOTE (r11 ADVICE, accepted as designed): plan CONSTRUCTION eagerly
    * scans the customer dim once per (session, sfDir) — the memoized
    * [[custVariantEstBytes]] count+sum(length) that sizes the variant
    * join's regime switch (the docsEstBytes treatment). Construction is
    * therefore not lazy: a missing customer.parquet fails at build, not
    * execution, and the first build per session bills one driver
    * round-trip over the dim table. */
  def q84FuzzyJoin(s: SparkSession, d: String): DataFrame = {
    def delKeys(nameCol: String) = explode(expr(
      s"""array_append(
         |  transform(sequence(1, length($nameCol)),
         |    i -> concat(substring($nameCol, 1, i - 1),
         |                substring($nameCol, i + 1))),
         |  $nameCol)""".stripMargin)).as("k")
    val dirty = customer(s, d).select(
        col("c_custkey").as("dirty_id"),
        concat(
          expr("substring(c_name, 1, cast(c_custkey % length(c_name) as int))"),
          expr("substring(c_name, cast(c_custkey % length(c_name) as int) + 2)"))
          .as("dirty_name"))
      .select(col("dirty_id"), col("dirty_name"), delKeys("dirty_name"))
    val canon = customer(s, d).select(col("c_custkey").as("canon_id"),
        col("c_name").as("canon_name"), delKeys("c_name"))
    // Variant-join regime switch (r11, the verifySide treatment —
    // measured at the synthetic sf10/sf20 decades, SCALING_r11): left
    // to the planner, the exploded variant inventories (Σ(len+1) rows
    // per side) ride the CUSTOMER scan's size estimate, so sf10
    // BROADCAST a ~0.9 GB variant index (8 MB shuffled — fine on one
    // box, 1000 copies of a corpus-growing build on a cluster) and
    // sf20 flipped to sort-merge that SORTED both 56M-row streams:
    // 8.7 GB spill (7.5 mem + 1.2 disk), 80 s wall. Past a byte cap on
    // the ESTIMATED variant bytes (one count+sum(length) over the dim
    // table), both sides co-partition at a byte-derived width (both
    // children pinned to the same (k, w) — the one-sided form gets
    // renegotiated to the session default, the r10 EnsureRequirements
    // lesson) and the join is hinted shuffled-hash: per-partition
    // build = a 16 MB variant slice at any corpus size, no sort.
    // Re-measured (SCALING_r11): sf10 wall 43.8 → 20.9 s, sf20
    // 80.3 → 50.6 s, spill ZERO at both, bytes 1.22 → 2.60 GB for the
    // 2× step — linear. Below the cap (bench SFs) nothing changes.
    //
    // Shuffle regime only (r12, measured by the hot-family probe): the
    // canon side COLLAPSES duplicate names per variant key before the
    // join. A mass-duplicated canonical name (one string fed in F
    // times — the entity-res adversary) makes every pair of (dirty
    // member, canon member) a TRUE lev≤1 match, so the join's output
    // at each of the family's ~|name| hot keys is |F_dirty|·|F_canon|
    // rows — and a hash equi-join cannot split one key across tasks:
    // SKEW_r12 measured one 124 s straggler against a 5.2 s stage
    // median (ratio 23.8) at F = 5000 on the synthetic-sf10 corpus.
    // The downstream aggregate only needs min(canon_id) and the count
    // of distinct matched canon ids per dirty row, and ids of
    // DIFFERENT names are disjoint — so grouping canon rows to one
    // (k, canon_name, min_id, n_ids) row per name makes the hot key's
    // build side a SINGLE row and per-key join output linear in the
    // dirty rows, exactly (the r12 re-probe: straggler 124 s → gone,
    // stage ratios back to the uniform band). The groupBy reuses the
    // (k, w) repartition — {k} ⊆ {k, name} satisfies the clustering —
    // so the collapse costs no extra exchange. Below the cap the
    // original pair-level distinct stays (bench plans untouched);
    // outputs are pinned identical across regimes in TextOpsSpec on a
    // dup-family corpus via the claimCustEstBytes seam.
    val estVar = custVariantEstBytes(s, d)
    val perDirty =
      if (estVar <= VerifyBroadcastBytes)
        dirty.join(canon, "k")
          .filter(levenshtein(col("dirty_name"), col("canon_name")) <= 1)
          .select(col("dirty_id"), col("canon_id")).distinct()
          .groupBy(col("dirty_id"))
          .agg(min(col("canon_id")).as("matched_canon_id"),
            count(lit(1)).as("n_candidates"))
      else {
        val w = byteDerivedWidth(s, estVar, VerifyBuildSliceBytes)
        // one row per (variant key, canonical name): min_id/n_ids are
        // identical across a name's keys (every canon named X explodes
        // the same delKeys(X)), so the post-join distinct collapses
        // multi-key matches of the same name to one row per dirty —
        // countDistinct because delKeys can emit the same variant
        // twice for one name (adjacent equal chars)
        val canonGrp = canon.repartition(w, col("k"))
          .groupBy(col("k"), col("canon_name"))
          .agg(min(col("canon_id")).as("g_min_id"),
            countDistinct(col("canon_id")).as("g_n_ids"))
        dirty.repartition(w, col("k"))
          .join(canonGrp.hint("shuffle_hash"), "k")
          .filter(levenshtein(col("dirty_name"), col("canon_name")) <= 1)
          .select(col("dirty_id"), col("canon_name"),
            col("g_min_id"), col("g_n_ids"))
          .distinct()
          .groupBy(col("dirty_id"))
          .agg(min(col("g_min_id")).as("matched_canon_id"),
            sum(col("g_n_ids")).as("n_candidates"))
      }
    perDirty.orderBy(col("dirty_id"))
  }

  /** Test seam: claim a variant-inventory estimate for (session, dir)
    * so a spec can force q84's shuffle regime on SMALL real data (the
    * documents fixtures lie via the n_chars column, but the customer
    * estimate reads actual name lengths — without the seam, crossing
    * the 64 MB cap would need gigabytes of exploded variants). */
  private[graft] def claimCustEstBytes(s: SparkSession, d: String,
                                       bytes: Long): Unit =
    custStatsMemo.put((s, d), bytes)

  /** q83: corpus diversity audit — per-source distinct-vs-total 3-gram
    * counts and type-token ratio: the "is this source repetitive
    * boilerplate or varied text" report that decides per-source mixing
    * weights alongside q53 (a source can pass every per-doc filter and
    * still be 1000 copies of the same template — only the corpus-level
    * distinct ratio sees that). Integer-exact counts; two map-side-
    * combinable aggregations, no joins. */
  def q83DiversityAudit(s: SparkSession, d: String): DataFrame = {
    val grams = documents(s, d)
      .select(col("source"),
        explode(graft.functions.TextFunctions.shingles(col("text"))).as("g"))
    grams.groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams_total"),
        countDistinct(col("g")).as("n_grams_distinct"))
      .withColumn("ttr",
        col("n_grams_distinct").cast("double") / col("n_grams_total"))
      .orderBy(col("source"))
  }

  /** q82: split-leakage audit — near-dup pairs that CROSS the q43
    * train/val/test boundary: a test doc whose near-duplicate sits in
    * train is evaluation leakage the split hash cannot prevent (hashing
    * distributes dup families uniformly across splits!). The audit
    * every serious eval pipeline runs after splitting; counts by
    * (split_a, split_b) plus the leaked pair total per cell. Composes
    * the cached q33 pair list with the deterministic split — at scale
    * it is one broadcast of the tiny pair list. */
  def q82SplitLeakage(s: SparkSession, d: String): DataFrame = {
    val sp = documents(s, d).select(col("doc_id"), splitOf.as("split"))
    q33NgramJaccard(s, d).select(col("doc_a"), col("doc_b"))
      .join(sp.select(col("doc_id").as("doc_a"), col("split").as("split_a")), Seq("doc_a"))
      .join(sp.select(col("doc_id").as("doc_b"), col("split").as("split_b")), Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_leaked_pairs"))
      .orderBy(col("split_a"), col("split_b"))
  }

  /** q81: code detection — the C4/RefinedWeb-style "is this prose or
    * code" router, as symbol-density counting: programs are dense in
    * `{}();=` where prose has none, so the fraction of those characters
    * cleanly separates the classes (real pipelines route code to its
    * own dedup/quality track rather than dropping it). Synthesized
    * signal (q75/q80 convention): docs at doc_id % 13 == 5 get a
    * code-ish tail; the flag must recover exactly that set. Counting
    * via a shared-dialect regex class, so the oracle is exact. */
  def q81CodeDetect(s: SparkSession, d: String): DataFrame = {
    val raw = concat(col("text"),
      when(col("doc_id") % 13 === 5,
        lit(" int f(int x){ return x*2; } // generated;")).otherwise(lit("")))
    documents(s, d)
      .withColumn("raw", raw)
      .withColumn("n_sym", regexp_count(col("raw"), lit("[{}();=]")).cast("long"))
      // empty raw (empty doc off the %13 tail) would hit ANSI's
      // DIVIDE_BY_ZERO — guard mirrored in the oracle; tests `=== 0`
      // (not `> 0`) so a NULL text propagates NULL in both engines,
      // the q30 three-valued convention
      .withColumn("sym_frac",
        when(length(col("raw")) === 0, lit(0.0))
          .otherwise(col("n_sym").cast("double") / length(col("raw"))))
      .select(col("doc_id"), col("n_sym"), col("sym_frac"),
        (col("sym_frac") > 0.005).as("is_code"))
      .orderBy(col("doc_id"))
  }

  /** q80: text normalization — the FIRST operator of every real corpus
    * pipeline: Unicode NFC composition (é as e+U+0301 becomes one code
    * point), control characters to spaces, whitespace collapse, trim.
    * TESTDATA text is clean ASCII, so (the q75 convention) the
    * interesting inputs are synthesized: docs at doc_id % 7 == 3 get a
    * tab/CR/LF/combining-accent tail appended in both engines, and the
    * clean-side md5 must match byte-for-byte — pinning that the JDK's
    * Normalizer and the oracle's nfc_normalize implement the same
    * Unicode standard, and that the regex cleanup is dialect-safe.
    * Per-row map work; at 100 TB this runs fused into the first scan. */
  def q80NormalizeText(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.nfc
    val mess = concat(lit("\t dirty e"), lit("\u0301"), lit("  tail\r\n"))
    val raw = concat(col("text"),
      when(col("doc_id") % 7 === 3, mess).otherwise(lit("")))
    documents(s, d)
      .withColumn("raw", raw)
      .withColumn("clean", trim(regexp_replace(
        regexp_replace(nfc(col("raw")), "[\\t\\r\\n]", " "), " +", " ")))
      .select(col("doc_id"),
        length(col("raw")).cast("long").as("n_raw"),
        length(col("clean")).cast("long").as("n_clean"),
        md5(col("clean")).as("clean_md5"),
        (col("raw") =!= col("clean")).as("changed"))
      .orderBy(col("doc_id"))
  }

  /** q78: length-bucketed batching audit — assign each document to a
    * power-of-two token-length bucket and account the padding waste of
    * batching within that bucket (every doc pads to its bucket's
    * ceiling). The batching-efficiency question every training/
    * inference pipeline answers before fixing batch shapes: which
    * buckets dominate tokens, and what fraction of compute would be
    * padding. Integer-exact (token counts and pad counts), one
    * map-side-combinable aggregation. */
  def q78LengthBuckets(s: SparkSession, d: String): DataFrame = {
    val nTok = size(litSplit(col("text"), " ")).cast("long")
    documents(s, d)
      .withColumn("n_tokens", nTok)
      // bucket ceiling = smallest power of two >= n_tokens, via INTEGER
      // bit-length (length(bin(n-1))) — float log2/pow would risk
      // engine-dependent rounding exactly at the powers of two
      .withColumn("bucket", expr(
        "IF(n_tokens <= 1, CAST(1 AS BIGINT), shiftleft(CAST(1 AS BIGINT), length(bin(n_tokens - 1))))"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("real_tokens"),
        sum(col("bucket") - col("n_tokens")).as("pad_tokens"))
      .withColumn("pad_frac",
        col("pad_tokens").cast("double") /
          (col("pad_tokens") + col("real_tokens")))
      .orderBy(col("bucket"))
  }

  /** q76: INCREMENTAL near-dup — dedupe a new batch AGAINST the
    * existing corpus (docs at doc_id % 10 == 7 play the increment, the
    * rest the corpus). This is the shape production dedup actually
    * runs daily: the corpus pairs itself once (q33); every later
    * increment joins only ACROSS the boundary — O(|inc|·candidates),
    * never re-pairing the corpus with itself. Same prefix-filtered
    * inverted index as q33, but the index join is increment × corpus
    * only; per increment doc the best corpus match wins
    * (max jaccard, tie → smallest corpus id), non-dups emit with
    * nulls — the keep/drop verdict list. */
  def q76IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.jaccardSim
    val all = shingled(documents(s, d), verifySide(s, d).width)
      .select(col("doc_id"), col("sh"), size(col("sh")).as("n"))
    val inc = all.filter(col("doc_id") % 10 === 7)
    val corpus = all.filter(col("doc_id") % 10 =!= 7)
    // hash-only index rows, as in q33: the exact Jaccard verify rejects
    // hash-collision candidates, so the boundary join ships longs.
    // df-ORDERED prefixes (round 9, the q33/q88 adjudication): the
    // boundary join has the same hot-shingle quadratic exposure —
    // inc-side hot prefix entries × the corpus posting list. df is
    // computed over the WHOLE corpus (inc + existing) so both sides
    // share one global order, the prefix theorem's requirement; the
    // oracle's dfq does the same.
    val prefAll = dfOrderedPrefix(all, 4, 5)
    val cands = prefAll.filter(col("doc_id") % 10 === 7).as("a")
      .join(prefAll.filter(col("doc_id") % 10 =!= 7).as("b"),
        col("a.h") === col("b.h") &&
          col("a.n") * 4 <= col("b.n") * 5 && col("b.n") * 4 <= col("a.n") * 5)
      .select(col("a.doc_id").as("inc_id"), col("b.doc_id").as("corpus_id"))
      .distinct()
    val v = verifySide(s, d)
    val verified = v.verify(cands,
        "inc_id", inc.select(col("doc_id").as("inc_id"), col("sh").as("sha")),
        "corpus_id", corpus.select(col("doc_id").as("corpus_id"), col("sh").as("shb")),
        (i, na, nb) => i.cast("double") / (na + nb - i), 0.8)
      .withColumn("jaccard", jaccardSim(col("sha"), col("shb")))
      .filter(col("jaccard") >= 0.8)
      // argmax without the struct-buffer SortAggregate (r16, same
      // two-stage treatment as q72): (1) collapse jaccard ties per
      // (inc_id, jaccard) to the smallest corpus_id — max_by's
      // -corpus_id order — on a fixed-width HashAggregate (the double
      // grouping key is exact-bit equality, the same comparison the
      // struct order made); (2) per inc_id the surviving jaccards are
      // DISTINCT (and NaN-free: the ≥ 0.8 filter rejects NaN), so
      // max_by(cid, jaccard) is deterministic on a (long, double)
      // fixed-width buffer and max(jaccard) is the winner's own value.
      // The added exchange carries one row per (inc doc, distinct
      // score) of the post-verify dup list — vanishing vs the corpus.
      .groupBy(col("inc_id"), col("jaccard"))
      .agg(min(col("corpus_id")).as("cid"))
      .groupBy(col("inc_id"))
      .agg(max_by(col("cid"), col("jaccard")).as("best_match"),
        max(col("jaccard")).as("best_jaccard"))
      .select(col("inc_id"), col("best_match"), col("best_jaccard"))
    inc.select(col("doc_id").as("inc_id"))
      .join(verified, Seq("inc_id"), "left")
      .withColumn("is_dup", col("best_match").isNotNull)
      .orderBy(col("inc_id"))
  }

  /** q75: corpus-familiarity filter — the corpus-RELATIVE quality
    * signal (the role the CCNet-style LM filter plays in production
    * pipelines, with an integer-exact score instead of float
    * perplexity): count every token's corpus frequency, then score each
    * document by the mean capped frequency of its tokens. Documents of
    * rare-token text (OCR noise, gibberish, wrong-language fragments)
    * score low where doc-LOCAL stats (q30/q52) cannot see anything
    * wrong. The 255 cap keeps stopword mass from drowning the signal.
    *
    * Scale: token counting is one map-side-combinable hash-agg; the
    * frequency join is fact × vocabulary — the vocab side is orders of
    * magnitude smaller than the corpus (broadcast it; at truly huge
    * vocabs, hash-join on token with the cap applied BEFORE the join
    * keeps the dim side narrow). */
  def q75Familiarity(s: SparkSession, d: String): DataFrame = {
    // TESTDATA's corpus has a CLOSED ~31-word vocabulary — every token
    // is frequent, so (as with the codec queries) the input for the
    // interesting case is synthesized: docs at doc_id % 41 == 0 get 30
    // unique gibberish tokens appended, deterministically in both
    // engines. The filter must then recover EXACTLY that injected set
    // from corpus statistics alone — which is the oracle check.
    val noisy = documents(s, d).select(col("doc_id"), expr(
      """concat(text, CASE WHEN doc_id % 41 = 0
        |  THEN concat(' ', array_join(transform(sequence(1, 30),
        |       i -> concat('zq', doc_id, '_', i)), ' '))
        |  ELSE '' END)""".stripMargin).as("text"))
    val tok = noisy.select(col("doc_id"), explode(litSplit(col("text"), " ")).as("t"))
    val cnt = tok.groupBy(col("t"))
      .agg(least(count(lit(1)), lit(255L)).as("cc"))
    tok.join(cnt, Seq("t"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("cc")).as("familiarity_sum"))
      .withColumn("familiarity",
        col("familiarity_sum").cast("double") / col("n_tokens"))
      .withColumn("flagged", col("familiarity") < 225.0)
      .select(col("doc_id"), col("n_tokens"), col("familiarity_sum"),
        col("familiarity"), col("flagged"))
      .orderBy(col("doc_id"))
  }

  /** q63: ensemble near-dup — union of the surface-form signal (q33
    * word-shingle Jaccard ≥ 0.8) and the semantic signal (q37 embedding
    * cosine ≥ 0.4, embeddings.vec_id keys the same corpus as
    * documents.doc_id — the driver generates them in lockstep). The two
    * signals catch DIFFERENT duplicate types: shingles find copy-edits
    * and boilerplate, embeddings find paraphrases with no lexical
    * overlap — production dedup runs both and unions the verdicts. Each
    * pair is tagged with its provenance ('text' / 'embedding' / 'both'),
    * which is also the audit you run to tune either threshold.
    *
    * 100 TB shape: both inputs are already the sub-quadratic plans (q33
    * prefix-filtered inverted index, q37's blocked exact scan — or its
    * ANN drop-in q39/q49 at extreme scale); the full-outer join merges
    * two TINY pair lists (near-dups are rare), so cost is the two
    * upstream scans, both cached in-session. */
  def q63EnsembleNeardup(s: SparkSession, d: String): DataFrame = {
    val t = q33NgramJaccard(s, d)
      .select(col("doc_a"), col("doc_b"), lit(true).as("txt"))
    val e = Vectors.q37CosineNearDup(s, d)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        lit(true).as("emb"))
    t.join(e, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"),
        when(col("txt") && col("emb"), "both")
          .when(col("txt"), "text").otherwise("embedding").as("signal"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q43: reproducible train/val/test split via multiplicative hashing —
    * deterministic, engine-independent (plain modular arithmetic, no
    * engine hash), the standard trick for stable splits across pipeline
    * re-runs. 80/10/10. */
  def q43TrainSplit(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("split", splitOf)
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .orderBy(col("lang"), col("split"))

  /** q66: stratified deterministic sampling — a different target rate
    * per stratum (source), decided by the same engine-independent
    * multiplicative hash as the q43 split, so the sample is reproducible
    * across engines and re-runs and needs no RNG state. Strata rates
    * cycle 10/25/50/75% by source number mod 4 (the shape of a
    * curated source-mixing recipe: downsample crawl, keep references).
    * Per-row map work, no shuffle beyond the final per-source rollup —
    * the partial aggregate is map-side combinable, scale-trivial. */
  def q66StratifiedSample(s: SparkSession, d: String): DataFrame = {
    // try_cast + coalesce, mirrored in the oracle: regexp_extract yields
    // '' for a digit-less source name and the plain ANSI cast throws —
    // "sources carry digits" is a generator detail, not a contract
    // (Tables.validate checks no such invariant); a digit-less source
    // deterministically lands in the rate-10 stratum in both engines
    val srcNum = coalesce(
      expr("try_cast(regexp_extract(source, '([0-9]+)', 1) AS BIGINT)"), lit(0L))
    val ratePct = element_at(
      array(lit(10), lit(25), lit(50), lit(75)), (srcNum % 4 + 1).cast("int"))
    documents(s, d)
      .withColumn("rate_pct", ratePct)
      .withColumn("bucket", splitBucket)
      .groupBy(col("source"), col("rate_pct"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("bucket") < col("rate_pct"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  /** q44: per-source cap (domain-mixing): keep at most 5 docs per source,
    * chosen by the same reproducible hash order — the "don't let one
    * domain dominate" sampling op. */
  def q44SourceCap(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(docOrdKey.asc, col("doc_id"))
    documents(s, d)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("source"), col("rk"), col("doc_id"))
      .orderBy(col("source"), col("rk"))
  }

  // --------------------------------------------- q51-q54 pipeline stages

  /** q51: benchmark decontamination — flag every corpus document sharing
    * an exact word 4-gram with the held-out benchmark set (here: the
    * deterministic doc_id % 41 slice standing in for an eval suite). The
    * standard test-set-leakage scrub of LLM training pipelines.
    *
    * 100 TB shape: the benchmark n-gram set is small and FIXED (eval
    * suites are MBs, the corpus is TBs) → broadcast it; the corpus side
    * is one map-side explode + broadcast-hash semi-join + partial-agg
    * count — no corpus shuffle at all until the per-doc count, which is
    * map-side combinable. */
  def q51Decontaminate(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.ngramsDistinct
    val g = documents(s, d).select(col("doc_id"),
      explode(ngramsDistinct(col("text"), lit(4))).as("gram"))
    val bench = g.filter(col("doc_id") % 41 === 0).select(col("gram")).distinct()
    g.filter(col("doc_id") % 41 =!= 0)
      .join(broadcast(bench), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("gram")).as("n_hit_grams"))
      .orderBy(col("doc_id"))
      // contaminated-id list is small and q58 anti-joins it — share one
      // materialization across the release pipeline
      .transform(graft.CacheRegistry.trackPersist(_))
  }

  /** q60: Bloom-prefiltered decontamination — same contract (and
    * bit-identical output — the oracle is q51's SQL verbatim) as q51,
    * built for the regime where the benchmark n-gram set is too big to
    * broadcast as strings. A Bloom filter over the benchmark grams
    * (~10 bits/gram at 1% FPP vs tens of string bytes) is built in one
    * distributed aggregate pass and shipped to every task; corpus grams
    * that cannot be benchmark members are dropped map-side BEFORE the
    * verify join. Bloom filters have no false negatives, and the exact
    * join removes the ~1% false positives, so output == q51 exactly.
    *
    * 100 TB shape: the corpus side stays map-local (explode + O(1) bloom
    * probe); the verify join's left side shrinks from |corpus grams| to
    * ~|true hits| — at that point Catalyst/AQE picks broadcast vs
    * shuffle from the ACTUAL post-filter sizes, which is the right call
    * at either scale. This is the standard big-benchmark scrub shape
    * (the reference's point-lookup gate, DataCollector.py:57-60 analog,
    * done set-at-a-time). */
  def q60DecontaminateBloom(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.ngramsDistinct
    val g = documents(s, d).select(col("doc_id"),
      explode(ngramsDistinct(col("text"), lit(4))).as("gram"))
    // persist the bench gram set (the q51 pattern; bounded by eval-suite
    // size): it is read THREE times — the count that sizes the bloom,
    // the bloomFilter aggregation, and the verify join — and unpersisted
    // each was a full corpus-side explode+distinct
    val bench = g.filter(col("doc_id") % 41 === 0).select(col("gram")).distinct()
      .transform(graft.CacheRegistry.trackPersist(_))
    val bloom =
      bench.stat.bloomFilter("gram", math.max(bench.count(), 64L), 0.01)
    val bloomB = s.sparkContext.broadcast(bloom)
    val mightContain =
      udf { (gram: String) => bloomB.value.mightContainString(gram) }
        .withName("bloom_might_contain")
    g.filter(col("doc_id") % 41 =!= 0)
      .filter(mightContain(col("gram")))
      .join(bench, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("gram")).as("n_hit_grams"))
      .orderBy(col("doc_id"))
  }

  /** q52: repetition quality filter — duplicate-word fraction and
    * most-frequent-bigram fraction per document, with the keep verdict
    * (Gopher-style repetition gates). All counts are exact integers; the
    * two fractions are single IEEE divisions of those integers, so the
    * oracle comparison is bit-stable.
    *
    * 100 TB shape: per-doc map work + one partial-aggregable
    * (doc, bigram) count — the only shuffle is on doc_id, and a doc's
    * bigrams all live in one row to begin with, so AQE coalesces the
    * tiny groups; no cross-document data movement. */
  def q52RepetitionFilter(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.ngramsAll
    val docs = documents(s, d)
    val base = docs.select(col("doc_id"),
      size(litSplit(col("text"), " ")).cast("long").as("n_tokens"),
      size(array_distinct(litSplit(col("text"), " "))).cast("long").as("n_distinct"))
    val top = docs
      .select(col("doc_id"), explode(ngramsAll(col("text"), lit(2))).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_bg"), sum(col("c")).as("n_bg"))
    base.join(top, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_tokens")).as("dup_word_frac"),
        coalesce(col("top_bg").cast("double") / col("n_bg"), lit(0.0)).as("top_bigram_frac"))
      .withColumn("keep",
        col("dup_word_frac") <= 0.6 && col("top_bigram_frac") <= 0.1)
      .orderBy(col("doc_id"))
      // one row per doc; q58 semi-joins the keepers — share the
      // materialization with the release pipeline
      .transform(graft.CacheRegistry.trackPersist(_))
  }

  /** q53: source-mixture resampling — downsample each source toward a
    * uniform target mixture with a 60% corpus budget:
    * p_s = min(1, 0.6·N/(S·n_s)), applied per doc with the reproducible
    * multiplicative hash. The keep test is EXACT integer arithmetic
    * (h·S·n_s·5 < 1000003·N·3 ⇔ h/1000003 < 0.6·N/(S·n_s)) — no floating
    * point anywhere, so the sample is engine-independent. The products
    * run in decimal(38,0) ≙ HUGEINT (the q87 treatment): h < 2^20 but
    * S·n_s grows with the corpus, and the BIGINT product overflows
    * (ANSI: throws) once S·n_s passes ~1.8e12 — inside the 100 TB shape
    * this docstring advertises; 128-bit holds to S·n_s ~ 2e31.
    *
    * 100 TB shape: the source histogram is tiny (thousands of sources) →
    * broadcast both it and the global totals; the corpus pass is then
    * map-only with a partial-aggregable per-source count. */
  def q53SourceMix(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val srcN = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    val tot = docs.agg(count(lit(1)).as("n_total"),
      count_distinct(col("source")).as("n_sources"))
    def big(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    val h = docOrdKey
    val kept = big(h) * big(col("n_sources")) * big(col("n_src")) * lit(5L) <
      big(lit(1000003L)) * big(col("n_total")) * lit(3L)
    docs.join(broadcast(srcN), Seq("source")).crossJoin(broadcast(tot))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  /** q54: sequence packing — concatenate each source's documents in
    * doc_id order and chunk the token stream into 512-token training
    * sequences; per doc: its start offset in the stream and the first/
    * last sequence it lands in (GPT-style concat-then-chunk packing).
    *
    * 100 TB shape: a GLOBAL concat order would serialize through one
    * partition (running sum over one unbounded window), so the pack is
    * per-source — every source's window runs in parallel and the
    * sequence ids are local to (source), which is how sharded training
    * data is actually laid out. Skewed sources are the residual risk;
    * sub-sharding a giant source by doc_id range is the escape hatch. */
  def q54SequencePack(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    documents(s, d)
      .select(col("source"), col("doc_id"),
        size(litSplit(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("start_offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("first_seq", expr("start_offset div 512"))
      .withColumn("last_seq", expr("(start_offset + n_tokens - 1) div 512"))
      .withColumn("straddles", col("first_seq") =!= col("last_seq"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** q56: vocabulary building — global term frequency + document
    * frequency, top 20 under a total (tf DESC, token) order. The
    * tokenizer-training / idf-weighting primitive of the pipeline.
    *
    * 100 TB shape: the canonical word-count — explode is map-side, both
    * aggregates are partial-aggregable (count-distinct(doc_id) becomes a
    * two-level agg), and the final top-k is a TakeOrdered over the
    * (vocabulary-sized, corpus-size-independent) aggregate. */
  def q56Vocabulary(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), explode(litSplit(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("token"))
      .limit(20)

  /** q58: the corpus RELEASE — every cleaning operator composed into the
    * pipeline's actual deliverable: exact-dedup keepers ∖ near-dup
    * doc_bs ∖ repetition failures ∖ contaminated ∖ the benchmark slice,
    * English only, with the reproducible split stamped on each survivor.
    * This is the query a user of the engine actually ships.
    *
    * 100 TB shape: each stage is one of the already-audited shapes
    * (hash-agg, prefix join over the CACHED shingle table, broadcast
    * semi/anti joins of small id sets against the corpus); composition
    * adds no new shuffle class — the id sets are tiny relative to the
    * corpus, so every filter join broadcasts. */
  def q58CorpusRelease(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val keepExact = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val dupB = q33NgramJaccard(s, d).select(col("doc_b").as("doc_id")).distinct()
    val repKeep = q52RepetitionFilter(s, d).filter(col("keep")).select(col("doc_id"))
    val contaminated = q51Decontaminate(s, d).select(col("doc_id"))
    // broadcast ONLY the genuinely small sides: dupB (near-dup ids) and
    // contaminated (benchmark hits) are slivers of the corpus by
    // definition. keepExact and repKeep are ~one id per surviving
    // document — corpus-sized — and a forced broadcast would override
    // AQE's byte threshold exactly where it protects the executors at
    // scale; unhinted, AQE still broadcasts them at test SF and
    // correctly shuffles them at 100 TB.
    docs
      .join(keepExact, Seq("doc_id"), "left_semi")
      .join(broadcast(dupB), Seq("doc_id"), "left_anti")
      .join(repKeep, Seq("doc_id"), "left_semi")
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
      .filter(col("doc_id") % 41 =!= 0) // the benchmark slice never ships
      .filter(col("lang") === "en")
      .withColumn("split", splitOf)
      .select(col("doc_id"), col("source"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** q92: per-document keyword extraction — top-3 terms by tf-idf.
    *
    * idf is the DIVISION form (N/df), not ln(N/df): the score is then
    * pure integer→double arithmetic (exact conversions, one multiply,
    * one divide — IEEE-identical in any engine), where ln's last bit
    * depends on the host libm (Java Math.log vs DuckDB's C log) and
    * would make the hash gate flaky. The division form is the
    * "probabilistic idf without damping" variant; ranking keeps the
    * rare-term-boosting property that matters for keyword extraction.
    *
    * 100 TB shape: explode is map-side; tf is a partial-aggregable
    * hash-agg on (doc_id, term); df/N are vocabulary-sized aggregates
    * that BROADCAST back onto tf; top-3 is a bounded per-doc window
    * over ≤|vocab| rows per doc — no corpus-sized sort anywhere. */
  def q92TfidfKeywords(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("doc_id"), explode(litSplit(col("text"), " ")).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tok.groupBy(col("term"))
      .agg(count_distinct(col("doc_id")).as("df"))
    val tot = documents(s, d).agg(count(lit(1)).as("n_total"))
    val scored = tf
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(tot))
      .withColumn("score",
        col("tf").cast("double") * col("n_total").cast("double")
          / col("df").cast("double"))
    scored
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term"))).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"),
        col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** q93: n-gram language-model quality score — the CCNet-style "does a
    * corpus LM find this document surprising?" filter, with a word-
    * bigram add-one-smoothed model trained on the corpus itself:
    * p(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V). No logarithms — ln is
    * libm-dependent in its last bit — so the per-doc statistic is the
    * plain probability sum, folded left-to-right IN TOKEN ORDER inside
    * each row (a fixed order makes the double sum bit-identical across
    * engines; min is order-free).
    *
    * 100 TB shape: bigram explode is map-side; the count tables are
    * CORPUS-DERIVED — distinct-bigram cardinality grows with the
    * corpus (web scale: 10⁸-10⁹ rows; "vocab²-bounded" is a paper
    * bound, not a practical one) — so the model joins carry NO
    * broadcast hints: they are plain shuffle joins on (w1,w2)/(w1),
    * partial-aggregable on both sides, and AQE converts them to
    * broadcasts exactly when the model side measures small (it does at
    * test SFs). A forced broadcast here was the r7 q58 mistake class —
    * overriding AQE's byte threshold precisely where it protects
    * executors. The 1-row V aggregate stays an explicit broadcast.
    * Per-doc reassembly is one hash-agg keyed doc_id; the in-row fold
    * is O(doc length), interpreted — fine, because it runs on |doc|
    * elements AFTER the model join, not in the corpus hot path. The
    * BOUNDED-model variant (count-threshold prune + top-K cap, the
    * CCNet treatment) is [[graft.streaming.CorpusStream.lmModel]],
    * scored by q103 with the pruned contract oracle-matched. */
  def q93LmScore(s: SparkSession, d: String): DataFrame = {
    val w = documents(s, d).select(col("doc_id"), litSplit(col("text"), " ").as("w"))
    val bg = lmBigrams(w)
    val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val v = w.select(explode(col("w")).as("t"))
      .agg(count_distinct(col("t")).as("v"))
    val p = bg
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .withColumn("p",
        (col("c2").cast("double") + lit(1.0)) / (col("c1") + col("v")).cast("double"))
    lmFold(p).orderBy(col("doc_id"))
  }

  /** The bigram extraction over a split-words column `w`, shared by
    * [[lmBigrams]] (q93/q103) AND CorpusStream.lmModel's trainer — ONE
    * edit point so a tokenization/boundary fix cannot reach the queries
    * and their oracles but miss the streaming model, silently breaking
    * lmScore's bit-for-bit equality with q93 on a replay. r15: the
    * extraction is the native [[graft.functions.WordBigrams]] loop —
    * the `transform(sequence(...), ...)` HOF it replaces is interpreted
    * per element (lambdas never reach codegen) and allocated a
    * transient index array per document, a per-token corpus-pass term.
    * [[lmBigramExpr]] below stays as the SQL twin the spec pins the
    * native rows AND types against. */
  private[graft] def lmBigramCol(w: Column): Column =
    graft.functions.GraftFunctions.wordBigrams(w)

  /** The retired SQL form of [[lmBigramCol]] — kept ONLY as the
    * reference twin for the WordBigrams equality spec (rows, schema,
    * NULL-array behavior). Not referenced by any query path. */
  private[graft] val lmBigramExpr: String =
    """transform(
      |  CASE WHEN size(w) >= 2 THEN sequence(0, size(w) - 2)
      |       ELSE array() END,
      |  i -> struct(i AS pos, w[i] AS w1, w[i+1] AS w2))""".stripMargin

  /** The (pos, w1, w2) bigram explode shared by q93/q103 — one edit
    * point so the two queries (and their mirrored oracles) can never
    * desynchronize on the extraction. */
  private def lmBigrams(w: DataFrame): DataFrame =
    w.select(col("doc_id"),
        explode(lmBigramCol(col("w")))
          .as("b"))
      .select(col("doc_id"), col("b.pos").as("pos"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** The per-doc reassembly shared by q93/q103: sum folded IN TOKEN
    * ORDER (sorted on pos — a fixed order makes the double sum
    * bit-identical cross-engine), min order-free, keep at 0.034.
    * `extra` rides additional aggregates (column, name) through the
    * SAME doc_id aggregation — q103's n_oov lives here so the scoring
    * pipeline is aggregated once, not once per output statistic.
    * r15: the former `aggregate(array_sort(pp), ...)` pair — BOTH
    * higher-order lambdas, interpreted per scored bigram — is the
    * native [[graft.functions.PosOrderedSum]] (one primitive sort +
    * fold, same pos-ascending order so the double sum is bit-exact;
    * the retired SQL form stays as the spec's reference twin). */
  private def lmFold(p: DataFrame, extra: (Column, String)*): DataFrame = {
    val aggs = Seq(min(col("p")).as("min_p"), count(lit(1)).as("n_bigrams")) ++
      extra.map { case (c, name) => c.as(name) }
    p.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("pos"), col("p"))).as("pp"),
        aggs: _*)
      .withColumn("sum_p",
        graft.functions.GraftFunctions.posOrderedSum(col("pp")))
      .withColumn("avg_p", col("sum_p") / col("n_bigrams"))
      .withColumn("keep", col("avg_p") >= lit(0.034))
      .select((Seq("doc_id", "n_bigrams") ++ extra.map(_._2) ++
        Seq("sum_p", "avg_p", "min_p", "keep")).map(col): _*)
  }

  /** q103 pruning knobs (mirrored literally in the oracle): bigrams
    * with count < 2 prune to the smoothing floor; of the survivors only
    * the 500 highest-count (ties (w1,w2) ascending) stay in the model.
    * Both bites are LIVE at sf0.01 (916 distinct bigrams, 906 at c≥2). */
  private val LmMinCount = 2L
  private val LmMaxEntries = 500

  /** q103: LM quality score under the BOUNDED model — q93's arithmetic
    * with the model pruned the way a 100 TB deployment must prune it
    * (the CCNet treatment, and the contract
    * [[graft.streaming.CorpusStream.lmModel]] ships):
    *
    *  - count-threshold: bigrams with c2 < [[LmMinCount]] leave the
    *    model and score the add-one floor (0+1)/(c1+V), exactly as an
    *    unseen bigram;
    *  - top-K cap: of the survivors only the [[LmMaxEntries]]
    *    highest-count stay (ties (w1,w2) ascending — deterministic);
    *  - c1 keeps EXACT full-corpus context totals, but only for
    *    leading words of retained bigrams (|c1| ≤ |c2| ≤ K by
    *    construction); a dropped leading word scores 1/(0+V).
    *
    * `n_oov` counts the fallback bigrams per doc, so the output also
    * AUDITS how much of each document the pruned model still covers.
    *
    * 100 TB shape: this is the version of q93 whose model side is
    * bounded BY PLAN SHAPE — the cap is an orderBy+limit (TakeOrdered)
    * over the aggregated count table, so the model never exceeds K
    * rows no matter the corpus; the scoring joins are then broadcast-
    * able at ANY corpus size (K-bounded), which q93's full-model joins
    * are not. The fold is the q93 order-pinned sum. */
  def q103LmScorePruned(s: SparkSession, d: String): DataFrame = {
    // Gated width pin (r13, the q20 adjudication — SURVEY §7.11's
    // declared pin-vs-pin residual): the bigram explode + scoring map
    // stage runs at SCAN parallelism, and a bench-SF documents parquet
    // is one row group → one task (measured 2.1 s warm; 1.0 s pinned,
    // BASELINE.md r13). cpuWidthPin withholds itself once the table's
    // row groups reach session width, so the minimal-exchange doctrine
    // this query's plan pin encodes still holds verbatim AT SCALE —
    // the narrow raw-text exchange exists only in the small-corpus
    // regime where it is the difference between 1 and 32 cores.
    val w = cpuWidthPin(documents(s, d))
      .select(col("doc_id"), litSplit(col("text"), " ").as("w"))
    val bg = lmBigrams(w)
    val cnt = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val kept = cnt
      .filter(col("c2") >= LmMinCount)
      .orderBy(col("c2").desc, col("w1"), col("w2"))
      .limit(LmMaxEntries)
    // INNER join against the distinct kept-word set, not left_semi
    // (r16): semantically identical (the key set is unique and carries
    // no payload columns), but PushDownLeftSemiAntiJoin pushed the semi
    // through BOTH aggregates into c1's copy of the bigram stream — a
    // second full corpus extraction pass that also made the two cnt
    // subtrees canonically different, so the cnt exchange could never
    // be reused. No rule pushes an inner join below an Aggregate, so
    // this form keeps c1 ABOVE the shared (w1,w2) exchange: one corpus
    // bigram pass feeds kept, c1 and the probe join via ReusedExchange.
    val c1 = cnt.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
      .join(kept.select(col("w1")).distinct(), Seq("w1"))
    val v = w.select(explode(col("w")).as("t"))
      .agg(count_distinct(col("t")).as("v"))
    val p = bg
      .join(kept, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .withColumn("p",
        (coalesce(col("c2"), lit(0L)).cast("double") + lit(1.0)) /
          (coalesce(col("c1"), lit(0L)) + col("v")).cast("double"))
      .withColumn("oov", when(col("c2").isNull, lit(1L)).otherwise(lit(0L)))
    lmFold(p, (sum(col("oov")), "n_oov"))
      .orderBy(col("doc_id"))
  }

  /** Chunking geometry: window of 64 tokens, stride 48 (16-token
    * overlap) — the context-window packing shape of a training-data
    * pipeline (overlap preserves cross-boundary context). */
  private val ChunkW = 64
  private val ChunkS = 48

  /** q94: overlapping document chunking — every doc sliced into
    * fixed-token windows with overlap, each chunk stamped with its
    * offsets and a content digest (the unit-of-training-example
    * materialization q54 only computes offsets for).
    *
    * All-integer index math + md5 — nothing float-valued anywhere, so
    * the oracle decision is exact by construction.
    *
    * 100 TB shape: pure per-row map + explode (fan-out ≈ n_tokens/48),
    * no shuffle before the output sort; md5 and the slice both run
    * inside whole-stage codegen. */
  def q94ChunkOverlap(s: SparkSession, d: String): DataFrame =
    chunked(documents(s, d), ChunkW, ChunkS)
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        col("chunk_len"), col("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** The chunking column program shared by q94 and the streaming twin
    * (CorpusStream.chunk): stream-safe (no sort, no agg — plain
    * map + explode), passes every non-working input column through so
    * a streaming caller keeps its event-time column for watermarks. */
  def chunked(docs: DataFrame, cw: Int, cs: Int): DataFrame =
    // working columns carry a __chunk_ prefix: the passthrough contract
    // ("every non-working input column survives onto each chunk row")
    // must hold even when a caller's frame already has a column named
    // w/n/nc/toks — plain names would clobber-then-drop it
    docs
      .withColumn("__chunk_w", litSplit(col("text"), " "))
      .withColumn("__chunk_n", size(col("__chunk_w")).cast("long"))
      .withColumn("__chunk_nc",
        when(col("__chunk_n") <= cw, lit(1L))
          .otherwise(expr(s"1L + (__chunk_n - $cw + ${cs - 1}) div $cs")))
      .withColumn("chunk_idx", explode(expr("sequence(0L, __chunk_nc - 1)")))
      .withColumn("start_tok", col("chunk_idx") * cs)
      .withColumn("__chunk_toks",
        expr(s"slice(__chunk_w, CAST(start_tok + 1 AS INT), $cw)"))
      .withColumn("chunk_len", size(col("__chunk_toks")).cast("long"))
      .withColumn("chunk_md5", md5(concat_ws(" ", col("__chunk_toks"))))
      .drop("__chunk_w", "__chunk_n", "__chunk_nc", "__chunk_toks")

  /** q96: boilerplate shingle filter — the shingle-level analog of
    * Common Crawl's repeated-line removal: a 3-gram whose document
    * frequency exceeds 2× the corpus-mean gram df is boilerplate (nav
    * chrome, license headers, templated text — phrases reused far more
    * than the corpus's natural reuse rate); a document whose
    * distinct-shingle set is > 25% boilerplate is flagged. The
    * threshold is RELATIVE to the corpus's own df distribution, so the
    * rule self-scales: an absolute df cutoff goes vacuous in both
    * directions as the corpus grows (measured here: df≥5 flags nothing
    * at 500 docs and everything at 5000). Distinct from q75
    * (token-frequency familiarity): this measures PHRASE reuse, which
    * single-token statistics cannot see.
    *
    * 100 TB shape: the gram→df table is NOT broadcast-sized at scale
    * (shingle vocabulary grows with the corpus), so the join shuffles
    * on the gram — the same inverted-index exchange q33's candidate
    * join is built on; the mean-df scalar is a second aggregate OVER
    * the df table (gram-vocabulary-sized input, one row out) that
    * broadcasts; per-doc reassembly is one hash-agg keyed doc_id. */
  def q96BoilerplateGrams(s: SparkSession, d: String): DataFrame = {
    // explicit isNotNull on the exploded gram (r16): a NO-OP — the
    // shingles UDF never emits null elements, but its Array[String]
    // encoder cannot say so (containsNull stays true, and unlike
    // litSplit there is no element-level asNonNullable). Without it
    // the g→df join pushed isnotnull(gram) into ITS copy of the
    // gram→df aggregation subtree while the mean-df scalar's copy had
    // none, the canonicalized exchanges stopped matching, and the
    // corpus paid the full explode+aggregate pass TWICE (found by the
    // `PlanDump canon` all-query sweep). With the filter stated once here,
    // both consumers inherit the same constraint, the subtrees
    // canonicalize equal, and the second pass becomes a ReusedExchange.
    val g = shingled(documents(s, d))
      .select(col("doc_id"), explode(col("sh")).as("gram"))
      .filter(col("gram").isNotNull)
    val df = g.groupBy(col("gram"))
      .agg(count_distinct(col("doc_id")).as("gram_df"))
    val m = df.agg(
      (sum(col("gram_df")).cast("double") / count(lit(1))).as("mean_df"))
    g.join(df, Seq("gram"))
      .crossJoin(broadcast(m))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("gram_df") > lit(2.0) * col("mean_df"), 1L)
          .otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_frac",
        col("n_boiler").cast("double") / col("n_grams"))
      .withColumn("keep", col("boiler_frac") <= lit(0.25))
      .select(col("doc_id"), col("n_grams"), col("n_boiler"),
        col("boiler_frac"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** q97: token-budget sampling — fill a fixed per-source token budget
    * (1,000 tokens) in deterministic hash order, truncating the source's
    * stream once the budget is spent (the "sample N tokens per domain"
    * op of a mixture build; q44 caps DOCUMENTS, this caps TOKENS — the
    * unit the training run actually consumes). A doc is kept iff it
    * STARTS inside the budget, so every source gets ≥ 1 doc and the
    * overshoot is at most one document — the standard contract.
    *
    * 100 TB shape: one window partitioned by source in hash order —
    * the same exchange q44's per-source ranking already pays; the
    * cumulative sum is a running aggregate, no second shuffle. */
  def q97TokenBudget(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 1000L
    val ordKey = docOrdKey
    val w = Window.partitionBy(col("source"))
      .orderBy(ordKey, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    documents(s, d)
      .select(col("source"), col("doc_id"),
        size(litSplit(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("tokens_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("kept", col("tokens_before") < budget)
      .select(col("source"), col("doc_id"), col("n_tokens"),
        col("tokens_before"), col("kept"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** Character-gram width for q99 — long enough that a duplicated gram
    * is training-relevant verbatim reuse, short enough that partial
    * phrase reuse (not just whole-doc copies) still surfaces at test SF. */
  private[graft] val SubstrL = 25

  /** Codepoints per generation chunk in [[q99Grams]]' big-corpus path:
    * one document contributes at most this many gram rows (~64 B
    * in-memory each → ~16 MB, a 1/8 fraction of the 128 MB per-task
    * explode budget) to any single map task, so no document — whatever
    * its size — can overflow one task's shuffle-write grant or turn
    * the generation stage into a doc-sized straggler. 2^18 splits the
    * 1 M-char rundoc monster into 4 chunks; a ≤262k-char doc stays one
    * chunk (the overwhelmingly common case — only the chunk overlap of
    * l−1 codepoints is ever duplicated text). */
  private[graft] val ChunkChars = 1 << 18

  /** The character-gram inventory of q99's PLAIN (below-regime)
    * generation path. The chunked path and the hot-df estimator emit
    * the same grams through charChunks ∘ charGrams at the same
    * [[SubstrL]] (row-identity property-pinned), so no consumer can
    * count different grams than the window it protects. NATIVE since the r13
    * rundoc probe: the SQL form (`transform(sequence(...), i ->
    * substring(text, i+1, L))`) is QUADRATIC per document —
    * UTF8String.substring locates codepoint i by scanning from byte 0,
    * and a single 1 M-char crawl-junk document was caught live costing
    * ~25 minutes of one core mid-transform. [[graft.functions
    * .CharGramsKernel]] emits the identical (pos, gram) structs in one
    * O(n·L) byte walk (codepoint semantics property-pinned against the
    * SQL twin in SetSimExpressionsSpec). */
  private def gramStructs: org.apache.spark.sql.Column =
    graft.functions.GraftFunctions.charGrams(col("text"), SubstrL)

  /** 1-in-61 deterministic doc sample for the hot-df estimate —
    * selected on xxhash64(doc_id) (r13 review), not raw doc_id mod:
    * the hash makes the sample uniform for ANY id structure, so
    * neither a generator periodicity (the corpus builders' 10/250/300
    * family mods) nor an id assignment that simply never lands on
    * multiples of 61 can systematically dodge it. 61 is prime and
    * comfortably under the budget/signal gap (see the budget note). */
  private[graft] val HotGramSampleMod = 61L

  /** The gram-exchange slice target: every q99 width call sizes the
    * gram-keyed exchange so each task's slice carries ~this many wire
    * bytes, and [[HotGramTaskRowBudget]] is DERIVED from the same pair
    * — one knob, two consumers, no silent desync (r13 ADVICE). */
  private[graft] val GramSliceBytes = 16L << 20
  /** Measured wire bytes per (gram, doc_id, pos) inventory row (~32 B:
    * 6.85 GB / 214M grams at sf10, the r11 sizing). */
  private[graft] val WiredGramRowBytes = 32L
  /** Per-task slice target for corpus-scale STREAMING exchanges (the
    * q99 text pin and the tokenize join's probe side) — see the r14
    * slice A/B in [[q99Grams]]'s scaladoc for why 128 MB (the 256 MB
    * predecessor sat above a 32-lane task's guaranteed grant). */
  private[graft] val TextSliceBytes = 128L << 20

  /** Max window rows ONE task may owe to a single hot gram before q99
    * switches to the two-pass form.
    *
    * RE-CALIBRATED post-CharGrams (the recorded r14 candidate, pulled
    * into r13): the original 2^16 was set against the QUADRATIC-era
    * per-row constant (SKEW_r12's 7.0 s task at df ≈ 150k); the linear
    * kernel removed most of that tax, and the isolated df-sweep
    * (DFSWEEP_r13.json; its tool was last in commit 8eefd21) measured
    * the post-kernel marginal at ~0.6-1.0 µs per hot-window row — so
    * the old budget switched to the two-pass (+52% bytes / ~14% wall on
    * the WHOLE query) to avoid a ≲ 60 ms straggler term.
    *
    * The budget is now DERIVED from the width machinery's own slice
    * target instead of being a free constant: the gram exchange sizes
    * every window slice at 16 MB ≈ 2^19 of the ~32 B wired gram rows
    * ([[q99SubstringDedupWindow]]), so a hot gram within this budget
    * adds at most ONE normal slice's row mass to one task — hot task
    * ≤ 2× its peers by row mass (the bounded-straggler class the q62 /
    * q84 probes accept), measured ≤ ~1.5× by the sweep's per-row
    * constants. Past it, the atomic window partition grows without
    * bound relative to its peers and the AQE-splittable two-pass is
    * the better plan. Uniform corpora (bench SF through the sf20
    * decade) show max-df in the hundreds — three orders under the
    * budget; the rundoc monster (1 M-char period-1 doc) sits above it
    * and still auto-switches. A false switch in the gap costs only the
    * measured two-pass premium, never correctness — outputs are pinned
    * identical across the gate.
    *
    * The derivation is expressed through the SAME named pair the q99
    * width calls use ([[GramSliceBytes]] / [[WiredGramRowBytes]]) —
    * retuning the slice target at the width sites retunes this budget
    * with it, by construction (r13 ADVICE: the repeated `16L << 20`
    * literals were the same desync class the r11 review fixed for the
    * width formula itself). */
  private[graft] val HotGramTaskRowBudget = GramSliceBytes / WiredGramRowBytes // = 2^19 rows, the 16 MB gram-slice target

  private val hotDfMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), java.lang.Long]

  /** Estimate of the corpus's maximum gram document frequency
    * (POSITION count, intra-doc repeats included — the unit the window
    * task actually carries), from ONE scan over two deterministic doc
    * subsets (r13 review hardened both):
    *
    *  - the 1-in-61 hash sample: per-gram counts scale back by 61 —
    *    this sees the crawl hazard (a hot gram spread over a constant
    *    FRACTION of docs, the only shape whose df grows with the
    *    corpus) with vanishing miss probability, since any gram in
    *    k docs dodges a uniform hash sample with odds (60/61)^k;
    *  - the big-doc census: every doc with declared n_chars >
    *    budget/4 is counted EXACTLY (no scaling) — a single
    *    pathological doc (a period-1 run, crawl junk) can put its
    *    whole length on one window task and a doc sample may miss it,
    *    but such a doc is visible in the stats column by definition.
    *
    * est = max(sample·61, census). The residual blind spot is a hot
    * gram confined to few SMALL docs that all dodge the hash: its df
    * is bounded by (docs carrying it) × budget/4 and CANNOT grow with
    * the corpus — and the gate fails SOFT there (the window form, the
    * r12 status quo: linear, never quadratic). One memoized aggregate
    * per (session, sfDir), computed only in the byte-width regime (the
    * gate short-circuits below it), so bench-SF plan construction pays
    * nothing. */
  private def estMaxGramDf(s: SparkSession, d: String): Long = {
    hotDfMemo.keySet.removeIf(_._1.sparkContext.isStopped)
    hotDfMemo.computeIfAbsent((s, d), _ => {
      val sampled = pmod(xxhash64(col("doc_id")), lit(HotGramSampleMod)) === 0
      val big = col("n_chars") > HotGramTaskRowBudget / 4
      // chunked generation here too (r14 review): the big-doc census
      // FORCE-INCLUDES every doc declaring n_chars > budget/4, so a
      // giant doc's whole gram array would otherwise materialize at
      // once inside one explode task (~64 B x nChars) — the same
      // per-doc concentration q99Grams' chunked path removed. The
      // gram MULTISET is identical by the CharChunks partition
      // property, which is all the df estimate reads.
      val r = documents(s, d)
        .filter(sampled || big)
        .select(sampled.as("s"), big.as("b"),
          explode(graft.functions.GraftFunctions.charChunks(
            col("text"), ChunkChars, SubstrL)).as("ch"))
        .select(col("s"), col("b"),
          explode(graft.functions.GraftFunctions.charGrams(
            col("ch.chunk"), SubstrL)).as("x"))
        .groupBy(col("x.gram"))
        .agg(sum(when(col("s"), 1L).otherwise(0L)).as("cs"),
          sum(when(col("b"), 1L).otherwise(0L)).as("cb"))
        .agg(coalesce(max(col("cs")), lit(0L)).as("ms"),
          coalesce(max(col("cb")), lit(0L)).as("mb"))
        .head()
      math.max(r.getLong(0) * HotGramSampleMod, r.getLong(1))
    })
  }

  /** q99: exact duplicated-substring spans — the Lee et al.
    * "Deduplicating Training Data Makes Language Models Better"
    * ExactSubstr operator, restated for a shared-nothing engine: the
    * suffix array over the corpus is replaced by a fixed-width
    * character-gram inventory. A gram (25 chars) is DUPLICATED when its
    * exact text occurs ≥ 2 times corpus-wide (cross- or intra-doc);
    * per document, overlapping/adjacent duplicated grams merge into
    * maximal spans (gaps-and-islands) — every duplicated substring of
    * length ≥ L is covered by duplicated L-grams, so the merged spans
    * are exactly the maximal ≥L verbatim-repeat regions a suffix-array
    * scan would emit (the one relaxation: two distinct repeat sources
    * that abut in a doc merge into one span).
    *
    * 100 TB shape: gram inventory is map-side (after the pinned-width
    * exchange that ships raw text — same rationale as `shingled`); the
    * duplicated-gram test is a whole-partition count window OVER the
    * gram — ONE gram-keyed exchange of the inventory and ONE corpus
    * scan, where the textbook "aggregate then semi-join back" shape
    * shuffles the inventory twice and scans/generates the corpus twice
    * (column pruning specializes the two subtrees, so Catalyst cannot
    * reuse the exchange — measured on the explain before restructuring);
    * the islands pass is one doc_id window whose partitioning the final
    * (doc_id, island) agg inherits (subset rule). Keys on the exchange
    * are the 25-byte gram text itself: exactness is the operator's
    * contract, so a hash-only index (q33/q88 style) would need a second
    * verify pass that reads the texts again — strictly worse than
    * shipping 25 bytes once. */
  def q99SubstringDedup(s: SparkSession, d: String): DataFrame = {
    // REGIME GATE (r13, verdict task 1 — the broadcast-cap/byte-width
    // switch pattern applied to q99's one remaining manual decision):
    // the window form's hot-gram term is LINEAR IN df WITH NO UPPER
    // BOUND — a gram at document frequency df lands WHOLE in one window
    // partition (a window partition is atomic; AQE cannot split it), so
    // crawl boilerplate at df = c·N puts c·N rows on ONE task forever,
    // and a single period-1 run document puts its whole LENGTH there
    // (the rundoc adversary). The two-pass form bounds both terms by
    // map-side-combined counting (a hot gram reduces to one row per map
    // task before any exchange; the semi-join probe partition is
    // AQE-splittable) at a measured +52% byte / ~14% wall premium
    // (post-CharGrams numbers, SKEW_r13) — cheap insurance against an
    // unbounded term. NOTE the premise history: the r12-era 5.4-loaded
    // funnel at df ≈ 150k was mostly the quadratic SQL gram kernel's
    // per-row tax; post-kernel the window-on-hot is near-flat at that
    // df (loaded ≤1.66) and the gate rests on the structural argument
    // above. The budget was re-calibrated against post-kernel
    // constants same-round (DFSWEEP_r13.json, whose tool was last in
    // commit 8eefd21; see the HotGramTaskRowBudget scaladoc): it now
    // equals the width machinery's 16 MB slice-row target, so
    // boilerplate-class hot corpora (df ≈ 150k: a bounded ≤1.7×
    // straggler, 14% faster than the two-pass) stay on the window form
    // while the unbounded cases
    // (crawl df = c·N past 2^19, the rundoc monster) still switch.
    // The gate estimates max-df from a deterministic 1-in-61 doc sample
    // (estMaxGramDf) and switches past HotGramTaskRowBudget; below the
    // byte-width threshold the estimate is not even computed (the whole
    // gram inventory fits a session-width window pass, and bench-SF
    // plan construction stays job-free). Outputs are pinned identical
    // across the gate in TextOpsSpec; the gated plan shape in PlanSpec.
    val q99Chars = docsEstBytes(s, d) / 3L
    val gramWidth = byteDerivedWidth(s, q99Chars * WiredGramRowBytes, GramSliceBytes)
    if (gramWidth > s.sessionState.conf.numShufflePartitions &&
        estMaxGramDf(s, d) > HotGramTaskRowBudget)
      q99SubstringDedupTwoPass(s, d)
    else q99SubstringDedupWindow(s, d)
  }

  /** The default (uniform-corpus) q99 form: duplicated-gram test as one
    * count window — single corpus scan, no join (see the q99 scaladoc
    * above for the full 100 TB shape rationale). */
  private[graft] def q99SubstringDedupWindow(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Byte-derived width for the gram-keyed exchange (r11, the
    // verifySide treatment): the count window SORTS each partition's
    // gram slice, and at the session's pinned 32 partitions that
    // reduce-side sort grows with the corpus. The inventory ships
    // ~32 B per character position (measured 6.85 GB / 214M grams at
    // sf10), so width = est-chars × 32 B / 16 MB keeps each window
    // sort memory-resident at any corpus scale — the 448-wide window
    // stage measured ZERO spill at sf10 (StageClock per-stage rows;
    // the query's remaining spill was the MAP side, fixed by the text
    // pin in [[q99Grams]]). docsEstBytes/3 ≈ total chars (one memoized
    // scan shared with the verify joins). Below the threshold the width
    // equals the session default and the explicit repartition is
    // withheld entirely, so bench-SF plans (and their AQE coalescing)
    // are byte-identical to before.
    //
    // HOT-GRAM CHARACTERISTIC of this shape (r12, SKEW_r12): a gram
    // with document frequency df lands WHOLE in one window partition —
    // one task sorts/streams df extra rows. Linear in df (never
    // quadratic: the window emits its input rows), measured at
    // df ≈ 150k on the synthetic-sf10 hot corpus as one 7.0 s task
    // against a 1.3 s stage median (+2.7% query wall, zero spill).
    // For corpora whose hot grams grow with the corpus (crawl
    // boilerplate at df = 0.3·N), [[q99SubstringDedupTwoPass]] bounds
    // the per-task term by map-side-combined counting at a measured
    // byte premium — see BASELINE.md r12 for the adjudication.
    val q99Chars = docsEstBytes(s, d) / 3L
    val g = q99Grams(s, d)
    val gramWidth = byteDerivedWidth(s, q99Chars * WiredGramRowBytes, GramSliceBytes)
    val gPinned =
      if (gramWidth > s.sessionState.conf.numShufflePartitions)
        g.repartition(gramWidth, col("gram"))
      else g
    val hits = gPinned
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("gram"))))
      .filter(col("cnt") >= 2)
      .select(col("doc_id"), col("pos"))
    q99Islands(s, d, hits)
  }

  /** The text-pinned gram explode shared by both q99 forms. Byte-derived
    * width for the TEXT pin (r11, measured at synthetic sf10 via
    * StageClock per-stage spill): the explode turns each character
    * position into a ~64 B in-memory gram row, so a session-width (32)
    * pin hands every map task corpus/32 characters and the gram
    * exchange's SHUFFLE WRITER spills by construction once that slice
    * outgrows a task's execution-memory grant — at sf10 the 32-task
    * explode stage carried ALL 16.3 GB of the query's spill (10.2 mem /
    * 6.1 disk) while the 448-wide window stages spilled zero. Bound the
    * per-task explode payload instead: width = chars × 64 B / slice
    * (chars ≈ docsEstBytes/3, the memoized corpus scan). On a real
    * cluster the scan's maxPartitionBytes does this automatically —
    * the pin must not UNDO it as the corpus grows. Below the threshold
    * the session default wins and bench-SF plans are untouched.
    *
    * Slice target 256 → 128 MB (r14, measured A/B at the 10× rundoc
    * probe, fresh JVMs): with 32 concurrent tasks sharing a unified
    * pool, a task's guaranteed grant is pool/64 — a ~256 MB slice sits
    * ABOVE it, so the shuffle writer spilled exactly when all lanes
    * ran dense (1.59/0.54 GB at the 10× monster; the stage wrote only
    * +60 MB over the zero-spill 1× run — a grant threshold, not data
    * growth). At 128 MB the same stage reads ZERO spill with the
    * generation task-time FASTER (328 vs 717 CPU-s warm) and the
    * uniform sf10 base also zero-spill at its best reading yet
    * (64.0 s warm rep); the only cost is 2× the map-task count on the
    * one text exchange. */
  private def q99Grams(s: SparkSession, d: String): DataFrame = {
    val textWidth = byteDerivedWidth(s, (docsEstBytes(s, d) / 3L) * 64L, TextSliceBytes)
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    if (textWidth > s.sessionState.conf.numShufflePartitions) {
      // CHUNKED generation (r14): keying the text exchange on doc_id
      // alone leaves one task generating ALL of a single document's
      // gram rows — the rundoc monster (1 M-char period-1 doc) put its
      // whole ~1M-row inventory on one map task, which was both the
      // family's only spill (0.32/0.11 GB, StageClock stage-level
      // attribution: the probe explode's shuffle-write buffer) and a
      // doc-size-bounded straggler. Splitting each doc into
      // [[graft.functions.CharChunks]] chunks BEFORE the exchange and
      // keying on (doc_id, chunk start) spreads one doc's generation
      // across tasks: any single doc now adds ≤ ChunkChars gram rows
      // (~16 MB in-memory at ~64 B each — a small fraction of the
      // 128 MB slice) to any one task, restoring the family's
      // zero-spill invariant with NO new exchange (the text exchange
      // already existed; the only added bytes are the l−1-codepoint
      // chunk overlaps). The inventory is row-identical by the kernel's
      // partition property (each global gram position lands in exactly
      // one chunk — property-pinned in SetSimExpressionsSpec; the
      // beyond-cap PlanSpec/TextOpsSpec fixtures run this path and pin
      // output equality). Below the byte-width regime the plain path
      // keeps bench-SF plans byte-identical to r13.
      docs
        .select(col("doc_id"),
          explode(graft.functions.GraftFunctions.charChunks(
            col("text"), ChunkChars, SubstrL)).as("ch"))
        .repartition(textWidth, col("doc_id"), col("ch.start"))
        .select(col("doc_id"), col("ch.start").as("cs"),
          explode(graft.functions.GraftFunctions.charGrams(
            col("ch.chunk"), SubstrL)).as("x"))
        .select(col("doc_id"), (col("cs") + col("x.pos")).as("pos"),
          col("x.gram").as("gram"))
    } else {
      docs
        .repartition(textWidth, col("doc_id"))
        .select(col("doc_id"), explode(gramStructs).as("x"))
        .select(col("doc_id"), col("x.pos").as("pos"), col("x.gram").as("gram"))
    }
  }

  /** The doc-side islands/spans tail shared by both q99 forms.
    * Byte-derived width for the DOC-side exchange (the islands windows
    * + final agg all inherit it): hits ≤ one ~10 B (doc_id, pos) wire
    * row per char position (measured 4.43 GB / 459M grams at sf20,
    * where the 32-wide doc window was the query's LAST spiller —
    * 13.3 GB, StageClock stage 21 — after the other two exchanges were
    * sized). Worst-case bound (every gram duplicated), so uniform
    * corpora get near-empty extra tasks at ~ms each; below threshold
    * the session default wins, bench plans untouched. */
  private def q99Islands(s: SparkSession, d: String, hits: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docWidth = byteDerivedWidth(s, (docsEstBytes(s, d) / 3L) * 10L, 16L << 20)
    val hitsPinned =
      if (docWidth > s.sessionState.conf.numShufflePartitions)
        hits.repartition(docWidth, col("doc_id"))
      else hits
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hitsPinned
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) > SubstrL, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + SubstrL).as("span_end"),
        (max(col("pos")) + SubstrL - min(col("pos"))).as("span_len"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("island").as("span_idx"), col("span_start"),
        col("span_end"), col("span_len"), col("n_grams"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** The hot-corpus q99 form, AUTO-SELECTED by [[q99SubstringDedup]]'s
    * regime gate since r13 (built r12 as the adjudicated manual
    * mitigation): exact TWO-PASS duplicated-gram test — pass 1 derives the
    * duplicated-gram set with a map-side-combined groupBy-count over a
    * fresh explode (partial aggregation reduces a hot gram to ONE row
    * per map task BEFORE any exchange — the counting step cannot
    * funnel), pass 2 semi-joins the inventory against that set at the
    * byte-derived width (AQE's skew split can divide a hot PROBE
    * partition across tasks; the window form's hot partition cannot be
    * split — a window partition is atomic). Same exact semantics: a
    * position survives iff its gram's corpus count ≥ 2, keys are the
    * 25-char gram text in both passes (no hash shortcut — exactness is
    * the operator's contract). Price: the corpus is exploded twice
    * (column pruning specializes the two subtrees, so the explode is
    * not reusable — the r11 explain finding) and the count exchange
    * ships map-combined (gram, cnt) partials. Output pinned identical
    * to the default in TextOpsSpec; the hot/base A/B numbers live in
    * SKEW_r12.json and the adjudication in BASELINE.md r12. */
  private[graft] def q99SubstringDedupTwoPass(s: SparkSession, d: String): DataFrame = {
    val q99Chars = docsEstBytes(s, d) / 3L
    val gramWidth = byteDerivedWidth(s, q99Chars * WiredGramRowBytes, GramSliceBytes)
    val dup = q99Grams(s, d)
      .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select(col("gram"))
    val g = q99Grams(s, d)
    val (probe, build) =
      if (gramWidth > s.sessionState.conf.numShufflePartitions)
        (g.repartition(gramWidth, col("gram")),
          dup.repartition(gramWidth, col("gram")).hint("shuffle_hash"))
      else (g, dup)
    val hits = probe.join(build, Seq("gram"), "left_semi")
      .select(col("doc_id"), col("pos"))
    q99Islands(s, d, hits)
  }

  /** q100: BPE tokenizer induction — three unrolled merge rounds of
    * byte-pair encoding learned from the corpus itself (the q98-kmeans
    * treatment applied to tokenizer training). Each round: count
    * adjacent symbol pairs over the VOCABULARY weighted by word
    * frequency (position-based counting, the classical BPE statistic),
    * take the argmax (ties → lexicographically smallest pair), and
    * apply the merge greedily left-to-right. Symbol sequences ride in
    * the per-symbol-wrapped string encoding `' s1  s2  s3 '` — each
    * symbol owns its flanking spaces, so one `replace(' a  b ', ' ab ')`
    * pass implements exactly the greedy non-overlapping merge (the
    * consecutive-pair case " a  b  a  b " merges BOTH occurrences
    * because neighbours' wrappers survive the splice; the overlap case
    * " a  a  a " merges once, as BPE specifies). Output: per doc, the
    * base char-token count, the count after 3 merges, and the learned
    * merge trajectory — so the hash gate decides every round's argmax.
    *
    * 100 TB shape: ONE corpus hash-agg builds the vocabulary (word →
    * count, partial-aggregable); every merge round then runs over the
    * vocabulary table only — pair explode, pair hash-agg, and a 1-row
    * TakeOrdered argmax that broadcasts back — corpus-size-independent
    * after round 0, the standard scalable BPE formulation. The corpus
    * is touched once more at the end: a map-only tokenize via the
    * broadcast final vocabulary. */
  def q100BpeMerges(s: SparkSession, d: String): DataFrame =
    q100BpeMergesWith(s, d, joinVocab(s, d, _, _))

  /** Dev-only gate A/B twin (r15): q100 with its tokenize join forced
    * to broadcast — the [[q106BpeEncodeBroadcast]] rationale. */
  private[graft] def q100BpeMergesBroadcast(s: SparkSession, d: String): DataFrame =
    q100BpeMergesWith(s, d, (w, p) => w.join(broadcast(p), Seq("word")))

  private def q100BpeMergesWith(s: SparkSession, d: String,
      tokJoin: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val ind = bpeInduction(s, d)
    val vt = ind.v3.select(col("word"),
      length(col("word")).cast("long").as("n_base"),
      size(litSplit(trim(col("seq")), "  ")).cast("long").as("n_toks"))
    def mcol(m: DataFrame, name: String): DataFrame =
      m.select(concat(col("s1"), col("s2")).as(name))
    tokJoin(ind.dw, vt)
      .crossJoin(broadcast(mcol(ind.m1, "m1")))
      .crossJoin(broadcast(mcol(ind.m2, "m2")))
      .crossJoin(broadcast(mcol(ind.m3, "m3")))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_base")).as("n_char_tokens"),
        sum(col("n_toks")).as("n_bpe_tokens"),
        (sum(col("n_base")) - sum(col("n_toks"))).as("n_saved"),
        min(col("m1")).as("merge1"), min(col("m2")).as("merge2"),
        min(col("m3")).as("merge3"))
      .orderBy(col("doc_id"))
  }

  /** The q100/q106 shared induction state: the pinned (doc_id, word)
    * stream, the final vocabulary state after three merges (word, c,
    * seq — seq in the per-symbol-wrapped encoding), and the three
    * learned merge rows (s1, s2). */
  private case class BpeState(dw: DataFrame, v3: DataFrame,
      m1: DataFrame, m2: DataFrame, m3: DataFrame)

  /** ONE definition of the whitespace word stream (the induction's
    * `dw` and the vocab estimate both tokenize through it — a regex
    * tweak applied to one site cannot silently skew the gate off the
    * stream it protects; the r13/r14 ADVICE desync class). */
  private def docWords(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), explode(litSplit(col("text"), " ")).as("word"))
    .filter(col("word") =!= "")

  private val vocabStatsMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), java.lang.Long]

  /** Memoized VOCABULARY byte estimate (distinct words × per-row
    * payload bytes): the word→tokens build side of the q100/q106
    * tokenize joins is vocabulary-sized, NOT corpus-sized — Heaps'
    * law keeps natural-language vocab orders under the corpus — but
    * its WORST case (crawl junk, binary-ish text: every word unique)
    * IS the corpus, so the broadcast decision needs the build side's
    * own estimate, not a corpus proxy that would flip mid-size
    * replicated corpora to the exchange plan for nothing. One
    * distinct + count/avg(length) scan per (session, sfDir), computed
    * ONLY past the certified corpus bound in [[joinVocab]] (the
    * [[estMaxGramDf]] discipline: bench-SF plan construction stays
    * job-free). The average is over DISTINCT words, not occurrences —
    * frequent words are short, so an occurrence-weighted mean
    * underestimates the per-row payload in exactly the Zipf regime
    * the gate serves (r14 review). Payload ≈ avgLen × 4 (the encoded
    * token string runs up to ~2× the word plus separators) + 48 B of
    * counts/row overhead. */
  private def vocabEstBytes(s: SparkSession, d: String): Long = {
    vocabStatsMemo.keySet.removeIf(_._1.sparkContext.isStopped)
    vocabStatsMemo.computeIfAbsent((s, d), _ => {
      val st = docWords(documents(s, d))
        .select(col("word")).distinct()
        .agg(count(lit(1)).as("n"),
          coalesce(avg(length(col("word"))), lit(0.0)).as("l"))
        .head()
      (st.getLong(0) * (st.getDouble(1) * 4.0 + 48.0)).toLong
    })
  }

  /** Base salt fan-out of the shuffled tokenize join's build side: a
    * Zipf corpus concentrates a hot word ('the' ≈ 3-5% of all
    * occurrences) in ONE probe partition if the exchange keys on the
    * word alone — the unbounded-straggler class the chunked gram
    * generation eliminated for documents, reintroduced on words (r14
    * review). The probe salts on xxhash64(doc_id) mod the word's salt
    * and the build replicates across all its salts.
    *
    * This CONSTANT handles the moderate tail only (r15, measured at
    * the sf10 uniqvocab probe): a fixed factor divides a hot word's
    * CORPUS-PROPORTIONAL mass by 16, so its bucket still grows ∝
    * corpus/16 while average tasks shrink ∝ 1/width — the straggler
    * ratio (hotShare · width / 16) is unbounded in width (the probe
    * read +36% rows → ~3× duration on the hot buckets at width 365).
    * Words CERTIFIED hot (df ≥ 16·occ/width — at most width/16 of
    * them by pigeonhole) therefore salt across the FULL exchange
    * width instead ([[hotVocabWords]]): their build rows are
    * per-distinct-word, so even total replication is ≤ width²/16
    * ~50 B rows — noise next to the ×16 tail replication — and their
    * probe streams spread bucket == task-average. Residual: one word
    * hot inside ONE giant doc shares that doc's salt — bounded by the
    * doc's size, the accepted islands class. */
  private[graft] val VocabSaltFactor = 16

  private val hotVocabMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Seq[String]]

  /** The certified-hot vocabulary of (session, sfDir): words whose df
    * reaches [[VocabSaltFactor]] × (total occurrences / width) — the
    * mass at which a 16-salt bucket equals a whole average task.
    * Pigeonhole-certified small BEFORE the collect (≤ width/16 rows,
    * the q60-bloom adjudicated shape); memoized like the other
    * plan-construction stats; computed only in the beyond-cap regime
    * ([[joinVocabShuffled]] is its only caller). */
  private def hotVocabWords(s: SparkSession, d: String, w: Int): Seq[String] = {
    hotVocabMemo.keySet.removeIf(_._1.sparkContext.isStopped)
    hotVocabMemo.computeIfAbsent((s, d), _ => {
      val cnts = docWords(documents(s, d))
        .groupBy(col("word")).agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val occ = cnts.agg(coalesce(sum(col("c")), lit(0L))).head().getLong(0)
        val thr = math.max(1L, VocabSaltFactor.toLong * (occ / math.max(w, 1)))
        cnts.filter(col("c") >= thr).select(col("word"))
          .collect().map(_.getString(0)).toSeq
      } finally { cnts.unpersist(); () }
    })
  }

  /** Exchange width of [[joinVocabShuffled]], pure in its byte inputs
    * so the salt-replication term is unit-testable (plan-shape tests
    * cannot see a width sized from the wrong estimate — the r14 ADVICE
    * class). The build term scales vocabBytes by [[VocabSaltFactor]]
    * because the explode replicates every build row across all salts
    * INTO THE SAME EXCHANGE; the probe term keeps the corpus stream at
    * the text slice. */
  private[graft] def joinVocabWidth(s: SparkSession, vocabBytes: Long,
      docsBytes: Long): Int = math.max(
    byteDerivedWidth(s, vocabBytes * VocabSaltFactor, VerifyBuildSliceBytes),
    byteDerivedWidth(s, docsBytes, TextSliceBytes))

  /** The shuffle regime of [[joinVocab]], its own method so the
    * branch-equality spec can execute it below the gate: both children
    * repartition on (word, salt) at a width sized by BOTH sides — the
    * build at the hash-build slice AND the corpus-scale probe stream
    * at the text slice (the build estimate alone would funnel a huge
    * corpus with a barely-over-cap vocab through session-width probe
    * tasks; r14 review) — and the join plans shuffled-hash (a
    * sort-merge would sort the corpus-scale word stream). The build
    * term sizes from the REPLICATED bytes, vocabEstBytes ×
    * [[VocabSaltFactor]]: the explode lands every salt copy in the
    * same exchange, so sizing from the unreplicated estimate would
    * hand each task ~16 slices of non-spillable hash build — defeating
    * the invariant in exactly the beyond-cap regime this helper exists
    * for (r15, the r14 ADVICE finding). */
  private[graft] def joinVocabShuffled(s: SparkSession, d: String,
      words: DataFrame, payload: DataFrame): DataFrame = {
    val w = joinVocabWidth(s, vocabEstBytes(s, d), docsEstBytes(s, d))
    // adaptive per-word salt (r15): certified-hot words spread across
    // the FULL width (scale-free — see VocabSaltFactor scaladoc), the
    // tail keeps the 16-way spread. isin compiles to an O(1) InSet
    // probe past 10 literals; both children compute the identical salt
    // domain, so the (word, vsalt) equi-join partitions the key space
    // exactly as the constant-salt form did.
    val hot = hotVocabWords(s, d, w)
    val saltOf: org.apache.spark.sql.Column =
      if (hot.isEmpty) lit(VocabSaltFactor.toLong)
      else when(col("word").isin(hot: _*), lit(w.toLong))
        .otherwise(lit(VocabSaltFactor.toLong))
    val probe = words.withColumn("vsalt",
      pmod(xxhash64(col("doc_id")), saltOf))
    val build = payload.withColumn("vsalt",
      explode(sequence(lit(0L), saltOf - 1)))
    probe.repartition(w, col("word"), col("vsalt"))
      .join(build.repartition(w, col("word"), col("vsalt"))
        .hint("shuffle_hash"), Seq("word", "vsalt"))
      .drop("vsalt")
  }

  /** The word→payload tokenize join shared by q100 and q106 (r14):
    * broadcast while the vocabulary-derived build side fits the verify
    * cap; beyond it, [[joinVocabShuffled]] (an unconditional broadcast
    * is the executor-memory hazard [[verifySide]] closed for the
    * shingle builds). Gate order: the CERTIFIED corpus bound decides
    * for free first — per distinct word the payload is 4·len + 48 and
    * a text of W words carries ≥ 2W−1 chars, so vocab bytes ≤
    * 4·chars + 48·(chars+1)/2 ≈ 28·chars ≤ 28/3 · docsEstBytes;
    * docsEstBytes ≤ cap·3/28 therefore PROVES a sub-cap build with no
    * job (every bench SF passes here — sf0.1 sits at 4.7 MB vs the
    * 6.9 MB bound; the r14 review killed the earlier `vocab ≤ corpus`
    * shortcut, which the 48 B/word overhead violates by up to ~5× on
    * short-word corpora). Past the bound the memoized
    * [[vocabEstBytes]] decides, so a big REPLICATED corpus with a
    * small vocabulary keeps the broadcast.
    *
    * PRECONDITION (r15, the r14 ADVICE note): the certified bound
    * derives chars from [[docsEstBytes]], which trusts the `n_chars`
    * metadata column — the same trust every byte-derived width in
    * this file already rests on, but this is the one place the column
    * gates an executor-memory decision. A corpus whose n_chars
    * understates the real text could certify a >cap broadcast; a
    * deployment ingesting untrusted metadata should recompute n_chars
    * at ingest (length(text) is one map) rather than weaken the
    * job-free gate here. */
  private def joinVocab(s: SparkSession, d: String,
      words: DataFrame, payload: DataFrame): DataFrame = {
    val certifiedSubCap =
      docsEstBytes(s, d) <= VerifyBroadcastBytes * 3L / 28L
    if (certifiedSubCap || vocabEstBytes(s, d) <= VerifyBroadcastBytes)
      words.join(broadcast(payload), Seq("word"))
    else joinVocabShuffled(s, d, words, payload)
  }

  /** The three unrolled BPE merge rounds q100's scaladoc describes,
    * extracted verbatim (r14) so q106's encode applies the SAME learned
    * table the induction reports — plan shape unchanged (a pure
    * construction refactor; PlanSpec's q100 pin is the witness). */
  private def bpeInduction(s: SparkSession, d: String): BpeState = {
    // gated width pin (r13): the two corpus touches (vocab build scan,
    // final tokenize join) each ran as ONE task on a single-row-group
    // table (~0.9 s + 0.6 s, StageClock). Unlike the classifier fold
    // (whose interpreted HOF hit a parallelization ceiling and went
    // native instead), these stages are pure codegen'd ops — split /
    // explode / hash-agg / broadcast join — so spreading them works.
    val dw = docWords(cpuWidthPin(documents(s, d)))
    // persisted (q98's pattern): each unrolled round re-derives its
    // inputs from the full lineage otherwise — with 3 rounds that is
    // 2^k parquet scans; cached, the corpus is scanned exactly twice
    // (vocab build + final tokenize join)
    val vocab = dw.groupBy(col("word")).agg(count(lit(1)).as("c"))
      .transform(graft.CacheRegistry.trackPersist(_))
    // ' k  e  y ' — regexp char-split avoids engine-specific
    // empty-pattern split() semantics. (?s): Java's dot excludes line
    // terminators by default, while the oracle's char split does not —
    // a newline inside a whitespace-delimited token must wrap like any
    // other symbol or the two engines' pair counts diverge
    val v0 = vocab.withColumn("seq",
      concat(lit(" "), rtrim(regexp_replace(col("word"), "(?s)(.)", "$1  ")),
        lit(" ")))
    def pairCounts(v: DataFrame): DataFrame = v
      .select(col("c"), litSplit(trim(col("seq")), "  ").as("sy"))
      .select(col("c"), explode(expr(
        """transform(
          |  CASE WHEN size(sy) >= 2 THEN sequence(0, size(sy) - 2)
          |       ELSE array() END,
          |  i -> struct(sy[i] AS s1, sy[i+1] AS s2))""".stripMargin)).as("p"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(sum(col("c")).as("cnt"))
    def argmax(pc: DataFrame): DataFrame =
      pc.orderBy(col("cnt").desc, col("s1"), col("s2")).limit(1)
        .transform(graft.CacheRegistry.trackPersist(_))
    def applyMerge(v: DataFrame, m: DataFrame): DataFrame = v
      .crossJoin(broadcast(m.select(col("s1").as("ms1"), col("s2").as("ms2"))))
      .withColumn("seq", expr(
        "replace(seq, concat(' ', ms1, '  ', ms2, ' '), concat(' ', ms1, ms2, ' '))"))
      .drop("ms1", "ms2")
    val m1 = argmax(pairCounts(v0))
    val v1 = applyMerge(v0, m1)
    val m2 = argmax(pairCounts(v1))
    val v2 = applyMerge(v1, m2)
    val m3 = argmax(pairCounts(v2))
    val v3 = applyMerge(v2, m3)
    BpeState(dw, v3, m1, m2, m3)
  }

  /** q106: BPE tokenizer APPLICATION — ENCODE the corpus with the merge
    * table q100's induction learns (the post-induction step a real
    * training pipeline runs over every document; the suite exercised it
    * only implicitly through q100's token counts until r14). Applying a
    * pair rule is an iterated merge to fixpoint over the bounded merge
    * list, in learned order — and in the per-symbol-wrapped `seq`
    * encoding ONE greedy left-to-right `replace` pass per rule IS that
    * fixpoint: the splice consumes both symbols, so no occurrence of
    * (s1, s2) survives a pass, and any new adjacency involves the
    * merged symbol s1s2, which is strictly longer than either operand
    * and therefore never re-forms the pair ([[q100BpeMerges]] scaladoc
    * has the wrapper-encoding cases). Output per document: the encoded
    * token sequence itself (space-joined, words in document order),
    * its word and token counts.
    *
    * 100 TB shape: q100's exactly — the merge table is applied to the
    * VOCABULARY (per distinct word, corpus-size-independent after the
    * hash-agg), and the corpus is touched twice, both scans pruned to
    * (doc_id, text): once partial-aggregable for the vocab, once
    * map-side through the broadcast word→tokens table. Per-doc
    * reassembly sorts each doc's word slots inside the hash aggregate
    * (sort_array + GetArrayStructFields — codegen'd, no interpreted
    * lambda); nothing about the encode joins corpus-to-corpus or
    * shuffles more than the one doc_id agg exchange.
    *
    * ACCEPTED PER-DOC ATOMIC TERM (r15, adjudicated): the reassembly
    * collect_list materializes ONE document's (pos, toks) structs in
    * one aggregation buffer — O(doc tokens) heap in a single group,
    * the same class as the q99 islands windows' O(doc-hits) sort
    * (BASELINE.md carries the family derivation). It is inherent to
    * the output granularity: the encoded document IS one row, so no
    * smaller assembly unit exists without changing the result schema.
    * Bounded by the largest single document, not the corpus. */
  def q106BpeEncode(s: SparkSession, d: String): DataFrame =
    q106BpeEncodeWith(s, d, joinVocab(s, d, _, _))

  /** Dev-only gate A/B twin (r15): q106 with the tokenize join FORCED
    * to the broadcast regime, so SkewProbe can pin shuffled == broadcast
    * on a corpus where the gate actually selects the shuffle —
    * TextOpsSpec's branch equality runs below the gate (broadcast side
    * trivially right there); this handle makes the across-the-gate
    * check non-vacuous. Not part of the driver contract. */
  private[graft] def q106BpeEncodeBroadcast(s: SparkSession, d: String): DataFrame =
    q106BpeEncodeWith(s, d, (w, p) => w.join(broadcast(p), Seq("word")))

  /** The learned merge table as plain pairs — the broadcast payload of
    * the STREAMING encode twin ([[graft.streaming.CorpusStream.encode]],
    * r15): three single-row head()s off the persisted induction state
    * (each argmax is a 1-row cached frame, so this costs three driver
    * round-trips on already-materialized data, not re-induction). */
  private[graft] def bpeLearnedMerges(s: SparkSession, d: String): Seq[(String, String)] = {
    val ind = bpeInduction(s, d)
    Seq(ind.m1, ind.m2, ind.m3).map { m =>
      val r = m.select(col("s1"), col("s2")).head()
      (r.getString(0), r.getString(1))
    }
  }

  private def q106BpeEncodeWith(s: SparkSession, d: String,
      tokJoin: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val ind = bpeInduction(s, d)
    // word → (its encoded token string, token count): the learned
    // table applied once per DISTINCT word, then broadcast
    val enc = ind.v3.select(col("word"),
      array_join(litSplit(trim(col("seq")), "  "), " ").as("toks"),
      size(litSplit(trim(col("seq")), "  ")).cast("long").as("n_toks"))
    val wp = cpuWidthPin(documents(s, d))
      .select(col("doc_id"),
        posexplode(litSplit(col("text"), " ")).as(Seq("pos", "word")))
      .filter(col("word") =!= "")
    tokJoin(wp, enc)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_toks")).as("n_tokens"),
        array_join(sort_array(collect_list(struct(col("pos"), col("toks"))))
          .getField("toks"), " ").as("tokens"))
      .orderBy(col("doc_id"))
  }

  /** q101: hashed-feature linear quality classifier — the
    * fastText-shaped classifier-INFERENCE filter (the GPT-3 / CCNet /
    * DataComp "quality classifier" stage that follows the heuristic
    * filters q30/q52 implement): each word hashes into one of 64
    * feature buckets via a polynomial char fold (the q38 hash
    * vocabulary, proven to hash-match cross-engine on this corpus),
    * each bucket carries a signed weight, and a document's score is
    * the sum of its words' bucket weights — keep iff score ≥ 0.
    * Weights are a deterministic zero-mean stand-in formula
    * ((b·2654435761) mod 17 − 8); the swap-in point for LEARNED
    * weights is a broadcast 64-element literal array indexed by the
    * same bucket id — identical plan shape.
    *
    * 100 TB shape: inference is row-local — one map over the corpus
    * with ZERO exchanges (the output orderBy is gate determinism only;
    * a production filter keeps rows in place). The model rides as a
    * literal/broadcast, never a join: this is the embarrassingly-
    * parallel filter every corpus build runs at full width, so it must
    * not shuffle — and it doesn't. The scoring fold is NATIVE since
    * r13 ([[graft.functions.ClassifierScore]] — the hot-kernel upgrade
    * this scaladoc promised): the interpreted nested-`aggregate` form
    * is kept as [[classifierScoredSql]] and the kernel is pinned
    * bit-compatible with it (and hence with the oracle) in
    * ClassifierExpressionsSpec, multibyte included. */
  def q101QualityClassifier(s: SparkSession, d: String): DataFrame =
    // gated width pin (r13): see q103 — same single-row-group residual,
    // same at-scale self-withholding; the zero-exchange inference plan
    // is intact wherever the scan parallelizes on its own
    classifierScored(cpuWidthPin(documents(s, d)))
      .select(col("doc_id"), col("n_tokens"), col("score"),
        col("mean_weight"), col("keep"))
      .orderBy(col("doc_id"))

  /** The q101 column program, shared verbatim with the streaming twin
    * (`CorpusStream.classify`) so stream and batch scores are identical
    * by construction. Row-local: adds n_tokens/score/mean_weight/keep
    * to whatever columns `docs` carries. */
  private[graft] def classifierScored(docs: DataFrame): DataFrame = {
    // NATIVE since r13 (the CharGrams treatment applied to the
    // classifier): the SQL form ([[classifierScoredSql]], kept as the
    // property-pinned twin) is a nested interpreted `aggregate` whose
    // inner substring fold re-scans each word per character — and the
    // interpretation tax does not even parallelize (32 concurrently
    // interpreting tasks measured 26 CPU-s + GC for 1.1 s of one-core
    // work, StageClock r13). One codegen'd pass computes score and
    // n_tokens together, bit-compatible by the kernel's range argument
    // + the spec's multibyte property pin.
    docs
      .withColumn("sc", graft.functions.GraftFunctions.classifierScore(col("text")))
      .withColumn("n_tokens", col("sc.n_tokens"))
      .withColumn("score", col("sc.score"))
      .drop("sc")
      .withColumn("mean_weight",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("score").cast("double") / col("n_tokens")))
      .withColumn("keep", col("score") >= 0)
  }

  /** The retired SQL column program, kept ONLY as the oracle-shaped
    * twin for ClassifierExpressionsSpec's equivalence pin (it mirrors
    * the DuckDB oracle's fold verbatim — the native kernel must match
    * it row-for-row, multibyte included). */
  private[graft] def classifierScoredSql(docs: DataFrame): DataFrame = {
    val words = "filter(split(text, ' '), w -> w <> '')"
    val score = expr(
      s"""aggregate(
         |  $words,
         |  CAST(0 AS BIGINT),
         |  (acc, w) -> acc +
         |    pmod(pmod(aggregate(sequence(1, length(w)), CAST(7 AS BIGINT),
         |           (a, i) -> pmod(a * 31 + ascii(substring(w, i, 1)), 1048573)),
         |         64) * 2654435761, 17) - 8)""".stripMargin)
    docs
      .withColumn("n_tokens", size(expr(words)).cast("long"))
      .withColumn("score", score)
      .withColumn("mean_weight",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("score").cast("double") / col("n_tokens")))
      .withColumn("keep", col("score") >= 0)
  }

  /** q104/q105 training geometry (mirrored literally in the generated
    * oracle CTEs — see [[classifierTrainCtes]]):
    *  - LmS: weights are fixed-point with denominator 2^LmS (targets
    *    live at y·2^LmS);
    *  - LmK: learning-rate shift — the mean gradient moves weights by
    *    2^-LmK of itself per epoch;
    *  - LmM: heavy-ball momentum 1 − 2^-LmM = 15/16;
    *  - LmEpochs unrolled passes;
    *  - bucket 64 is the bias feature (x = 1 on every doc).
    * Stability is CORPUS-SIZE-INDEPENDENT because the gradient is
    * mean-normalized (floor-divided by N): the GD contraction bound
    * depends on λ_max(XᵀX)/N ≈ E|x|², a per-document quantity, so the
    * same constants hold from sf0.001 through 100 TB (verified stable
    * and monotone-loss at all three test SFs). */
  private val LmS = 14
  private val LmK = 7
  private val LmM = 4
  private val LmEpochs = 12

  /** The (doc_id, bucket, count) hashed-feature table shared by the
    * classifier TRAINING pair q104/q105 — word buckets from the same
    * 64-bucket char-fold hash as q101's inference kernel (so learned
    * weights drop straight into q101's broadcast slot), plus the
    * constant bias feature at bucket 64 on every document. */
  private def classifierFeatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        // native drop-empty split (r15) — one byte walk instead of the
        // builtin regex split + interpreted filter HOF; spec-pinned
        // equal to `filter(split(text, ' '), w -> w <> '')`
        explode(graft.functions.GraftFunctions.litSplitWords(col("text"), " "))
          .as("w"))
      // native per-word fold (r13, see classifierScored) — replaces
      // `pmod(aggregate(sequence(1, length(w)), 7, (a, i) ->
      //   pmod(a*31 + ascii(substring(w, i, 1)), 1048573)), 64)`,
      // which ClassifierExpressionsSpec pins it equal to
      .withColumn("b", graft.functions.GraftFunctions.wordBucket(col("w")))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("x"))
      .unionByName(docs.select(col("doc_id"), lit(64L).as("b"), lit(1L).as("x")))

  /** The q104/q105 training label: the TEACHER is q101's stand-in
    * weight formula — y = +1 iff q101's score ≥ 0 — so the learning
    * problem is REALIZABLE in the learner's own feature space (a
    * planted linear concept, the q28/q48 planted-key discipline
    * applied to ML) and the spec can measure how much of the teacher
    * the student recovers. Integer throughout. */
  private def classifierLabels(docs: DataFrame): DataFrame =
    classifierScored(docs)
      .withColumn("y", when(col("score") >= 0, lit(1L)).otherwise(lit(-1L)))
      .select(col("doc_id"), col("n_tokens"), col("y"))

  /** The q104 trajectory: [[LmEpochs]] unrolled epochs of fixed-point
    * integer least-squares gradient descent with heavy-ball momentum
    * over the hashed features — the batch-gradient training loop
    * q101's docstring promised a swap-in point for (SURVEY §7.6.8e).
    * Per epoch, with everything BIGINT:
    *   s_d  = Σ_b x_db·w_b                  (per-doc score)
    *   r_d  = y_d·2^LmS − s_d               (residual)
    *   g_b  = floor( Σ_d r_d·x_db / N )     (mean gradient)
    *   v_b ← g_b + v_b − (v_b >> LmM)       (momentum)
    *   w_b ← w_b + (v_b >> LmK)             (update)
    * ALL-INTEGER, so every sum is order-free and the full trajectory
    * is oracle-decidable (the q98 unrolled-Lloyd treatment without
    * even its exact-double caveat); >> is arithmetic shift (= floor
    * division by 2^k) in both engines, and the mean is a FLOOR
    * division on both sides — `Math.floorDiv` in the driver
    * recurrence, the explicit (g − pmod(g, N)) div N form in the
    * DuckDB CTEs (exactly divisible, so DuckDB's truncating `//`
    * computes the identical floor).
    * Returns (epoch, bucket, weight, n_wrong) where n_wrong counts the
    * sign errors ENTERING the epoch — on this corpus the trajectory is
    * genuinely learned: majority-class 348/500 at epoch 1 falls to
    * ~50-60 errors by epoch 12 (~89% teacher recovery; the exact LSQ
    * optimum reaches 95%).
    *
    * 100 TB shape: the feature table is built once and persisted (the
    * q100 vocabulary treatment — the unrolled lineage must not rescan
    * the corpus per epoch); each epoch is ONE distributed job — two
    * partial-aggregable hash-aggs over it (per-doc scores, then the
    * 65-row gradient+error aggregate) with the 65-long weight vector
    * shipped as an array literal and updated on the driver (the MLlib
    * treeAggregate-GD shape) — the corpus never shuffles on anything
    * wider than doc_id, never crosses the exchange at more than 65
    * rows, and never reaches the driver. Overflow audit:
    * weights stay O(2^LmS) (the LSQ fixpoint is y-scaled), so per-term
    * r·x ≲ 2^25 and the gradient sum stays inside BIGINT up to ~2^37
    * documents — two orders past a 100 TB corpus. */
  /** Training is memoized per (session, sfDir) — the q33 cached-pair-
    * list treatment: q104 and q105 are separate gate entries but share
    * one optimization run. The memo carries the checkpointed FEATURE
    * and LABEL tables alongside the trajectory so inference never
    * re-pays the char-fold passes training already materialized. */
  private final case class TrainArtifacts(steps: DataFrame, feats: DataFrame,
                                          labels: DataFrame)
  private val trainConfLock = new Object
  private val trainStepsMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), TrainArtifacts]

  private def trainArtifacts(s: SparkSession, d: String): TrainArtifacts = {
    // evict entries whose session has stopped: they pin checkpointed
    // RDDs of dead sessions forever, and a reuse would surface as an
    // opaque "SparkContext has been shut down" instead of a retrain
    trainStepsMemo.keySet.removeIf(_._1.sparkContext.isStopped)
    val key = (s, d)
    // get-then-putIfAbsent (r15 ADVICE, the ccLabelsMemo treatment):
    // the 12-epoch training loop must not run under the CHM bin lock.
    var a = trainStepsMemo.get(key)
    if (a != null) memoRecallCount.incrementAndGet()
    else {
      val built = trainStepsUncached(s, d)
      val prev = trainStepsMemo.putIfAbsent(key, built)
      if (prev != null) {
        unpersistCheckpointed(built.feats); unpersistCheckpointed(built.labels)
        a = prev
      } else a = built
    }
    a
  }

  /** Release the localCheckpointed blocks rooting a memoized frame —
    * the CacheManager cannot see them (they are RDD persists, not
    * relation caches), so without this every isolation-point clear
    * (Verify per-query, Bench retakes, ScaleSweep reps) left orphaned
    * blocks in the BlockManager until GC + ContextCleaner got around
    * to them (r15 ADVICE). Unpersisting a localCheckpointed RDD makes
    * it unrecomputable, which is exactly the contract here: the memo
    * entry is dropped in the same breath. */
  private def unpersistCheckpointed(df: DataFrame): Unit =
    try df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(false)
      case _ => ()
    } catch { case scala.util.control.NonFatal(_) => () }

  private[graft] def classifierTrainSteps(s: SparkSession, d: String): DataFrame =
    trainArtifacts(s, d).steps

  /** For measurement tools only: drops the memoized trajectories so a
    * cold-cache sweep re-pays training (ScaleSweep clears this beside
    * the CacheManager — localCheckpointed RDDs are not CacheManager
    * entries, so clearCache() alone would leave training invisibly
    * warm and the q104 scaling row would lie). */
  private[graft] def clearTrainMemo(): Unit = {
    // unpersist the checkpointed blocks BEFORE dropping the entries
    // (r15 ADVICE): clear() alone orphaned them in the BlockManager
    trainStepsMemo.values.forEach { a =>
      unpersistCheckpointed(a.feats); unpersistCheckpointed(a.labels)
    }
    trainStepsMemo.clear()
    // the q62 CC-label memo rides the same isolation points (r15): its
    // frame roots at localCheckpointed RDDs the CacheManager cannot
    // see, exactly like the training trajectory above
    ccLabelsMemo.values.forEach(unpersistCheckpointed(_))
    ccLabelsMemo.clear()
  }

  private def trainStepsUncached(s: SparkSession, d: String): TrainArtifacts = {
    val docs = documents(s, d)
    // Eager localCheckpoint, not persist: a lazy cache is only a HINT —
    // AQE broadcast-stage builds were observed recomputing the full
    // char-fold feature pass once per epoch through it (one ~7 CPU-s
    // 33-task stage per epoch at sf0.1). Checkpointed frames are DATA;
    // the fold provably runs once per training, not once per epoch.
    // Both are pre-partitioned on doc_id so every epoch's score agg,
    // label join, and gradient join run exchange-free off the
    // checkpointed partitioning — the loop's only repeated exchange is
    // the 65-row gradient.
    val feats = classifierFeatures(docs)
      .repartition(col("doc_id")).localCheckpoint(true)
    val labels = classifierLabels(docs)
      .repartition(col("doc_id")).localCheckpoint(true)
    val n = labels.count()
    // The model is 65 longs: weights/velocity live on the DRIVER (the
    // MLlib treeAggregate-GD shape — model on the driver, data on the
    // executors) and each epoch is ONE distributed job: score the
    // checkpointed features against the current weights shipped as an
    // O(1)-indexed array LITERAL (no broadcast build, no weight-frame
    // join), fold residuals back over the feature table, and collect
    // the 65-row (gradient, error) aggregate. The former DataFrame-
    // resident weight recurrence spent ~20 scheduling-floor stages per
    // epoch (per-epoch checkpoints + broadcast builds) to move 65
    // longs — measured 5.4→~2 s warm at sf0.1 for identical output.
    // n_wrong piggybacks on the same aggregate: the bias feature
    // (b = 64, x = 1) appears EXACTLY once per document, so the
    // wrong-flag sum grouped by bucket counts each document once at
    // b = 64 and the epoch needs no second pass.
    val w = Array.fill(65)(0L)
    val v = Array.fill(65)(0L)
    val steps = Vector.newBuilder[(Long, Long, Long, Option[Long])]
    // AQE off for the epoch loop only (restored in finally): each epoch
    // is a fixed 65-row aggregate over checkpointed, already-sized
    // partitions — there is nothing for AQE to adapt, but its stage-by-
    // stage materialization charges a driver replanning round-trip per
    // exchange per epoch (measured ~40% of training wall at sf0.1).
    // Iterative fixed-shape jobs are the documented AQE opt-out case;
    // every non-loop query in this engine keeps AQE on (skew joins,
    // runtime coalescing) — the restore is in a finally so an epoch
    // failure cannot leak the setting into the session.
    // (Measured and rejected: forcing the loop's joins off the
    // broadcast path — autoBroadcastJoinThreshold=-1 for SMJ or
    // preferSortMergeJoin=false for SHJ — reads as "fewer driver
    // round-trips" but costs MORE here: 24 per-epoch sorts / 32-task
    // build stages outweigh the two tiny broadcast builds. No hint is
    // forced either way: the score/residual frames are PER-DOC, so at
    // real corpus sizes the threshold stops broadcasting them and the
    // join falls back to the exchange-free co-partitioned path the
    // doc_id checkpoint partitioning provides — the planner's
    // size-based choice is correct at both ends, which is exactly why
    // the choice is left to it.)
    // The flip mutates SESSION-scoped conf, so trainings are serialized
    // under one lock: two overlapping trainings on the same session
    // would otherwise interleave capture/restore and could leave AQE
    // off for the session's lifetime (the restore-the-captured-"false"
    // race). Training is heavyweight and memoized, so serializing it
    // costs nothing real. A non-training query planned on the same
    // session DURING a training window still sees AQE off for that
    // plan — a perf-only effect (skew split / coalescing), never a
    // correctness one; streaming queries are immune (they snapshot
    // session conf at start).
    trainConfLock.synchronized {
      val aqeKey = "spark.sql.adaptive.enabled"
      val aqeBefore = s.conf.getOption(aqeKey)
      try {
        s.conf.set(aqeKey, "false")
        trainLoop(s, feats, labels, n, w, v, steps)
      } finally aqeBefore match {
        case Some(v0) => s.conf.set(aqeKey, v0)
        case None => s.conf.unset(aqeKey)
      }
    }
    import s.implicits._
    val stepsDf = steps.result()
      .toDF("epoch", "bucket", "weight", "n_wrong")
    TrainArtifacts(stepsDf, feats, labels)
  }

  private def trainLoop(s: SparkSession, feats: DataFrame, labels: DataFrame,
                        n: Long, w: Array[Long], v: Array[Long],
                        steps: scala.collection.mutable.Builder[
                          (Long, Long, Long, Option[Long]),
                          Vector[(Long, Long, Long, Option[Long])]]): Unit = {
    for (e <- 1 to LmEpochs) {
      val wLit = typedlit(w.toSeq)
      val sDf = feats
        .groupBy(col("doc_id"))
        .agg(sum(col("x") * element_at(wLit, (col("b") + 1).cast("int"))).as("s"))
      val res = labels.join(sDf, Seq("doc_id")) // bias row ⇒ s exists ∀ docs
        .withColumn("r", col("y") * lit(1L << LmS) - col("s"))
        .withColumn("wrong", (col("s") >= 0) =!= (col("y") === 1))
      val agg = res.select(col("doc_id"), col("r"), col("wrong"))
        .join(feats, Seq("doc_id"))
        .groupBy(col("b"))
        .agg(sum(col("r") * col("x")).as("gsum"),
          sum(when(col("wrong"), 1L).otherwise(0L)).as("wsum"))
        .collect()
      val gsum = Array.fill(65)(0L)
      // None (⇒ SQL NULL) when the b=64 bias row is ABSENT — i.e. a
      // zero-document corpus — matching the oracle's SUM-over-empty
      // NULL and the pre-rewrite crossJoin(agg) semantics exactly
      var nWrong: Option[Long] = None
      agg.foreach { row =>
        val b = row.getLong(0).toInt
        gsum(b) = row.getLong(1)
        if (b == 64) nWrong = Some(row.getLong(2))
      }
      var b = 0
      while (b < 65) {
        // same fixed-point recurrence as the docstring, in Long
        // arithmetic identical to the former column program
        v(b) = Math.floorDiv(gsum(b), math.max(n, 1L)) + v(b) - (v(b) >> LmM)
        w(b) = w(b) + (v(b) >> LmK)
        steps += ((e.toLong, b.toLong, w(b), nWrong))
        b += 1
      }
    }
  }

  /** q104: classifier TRAINING — emits the full [[LmEpochs]]-epoch
    * fixed-point weight trajectory plus the per-epoch error count, so
    * the oracle decides not just the final model but every
    * optimization step (see [[classifierTrainSteps]]). */
  def q104ClassifierTrain(s: SparkSession, d: String): DataFrame =
    classifierTrainSteps(s, d).orderBy(col("epoch"), col("bucket"))

  /** q105: classifier INFERENCE with the LEARNED weights — q101's plan
    * shape (row-local scoring against a broadcast 65-entry model) with
    * q104's final-epoch weights in the broadcast slot instead of the
    * stand-in formula, plus the teacher-recovery audit (label,
    * correct) a real pipeline reads before trusting a filter.
    *
    * 100 TB shape: one groupBy(doc_id) over the persisted feature
    * table joined to the 65-row broadcast weights; the label frame
    * joins back on doc_id — both exchanges partial-aggregate first. */
  def q105ClassifierLearned(s: SparkSession, d: String): DataFrame = {
    val art = trainArtifacts(s, d)
    val wFinal = art.steps.filter(col("epoch") === LmEpochs)
      .select(col("bucket").as("b"), col("weight").as("nw"))
    // score off the CHECKPOINTED feature/label tables training already
    // materialized — rebuilding them here would re-pay the two
    // corpus-scale char-fold passes per q105 run
    val scored = art.feats.join(broadcast(wFinal), Seq("b"))
      .groupBy(col("doc_id")).agg(sum(col("x") * col("nw")).as("s"))
    art.labels.join(scored, Seq("doc_id"))
      .withColumn("keep", col("s") >= 0)
      .withColumn("correct", (col("s") >= 0) === (col("y") === 1))
      .select(col("doc_id"), col("n_tokens"), col("y").as("label"),
        col("s").as("score"), col("keep"), col("correct"))
      .orderBy(col("doc_id"))
  }

  /** q102: temperature-based source mixing — the DoReMi / multilingual
    * mixture-sampling stage: per-source sampling targets derived FROM
    * the corpus histogram as c_s^α (α = 0.5, the standard multilingual
    * temperature), so over-represented sources are down-weighted and
    * small sources up-weighted relative to proportional sampling. This
    * completes the mixture family — q53 downsamples to a UNIFORM
    * target, q66 applies FIXED per-stratum rates, q97 caps TOKENS;
    * this is the one whose rates come from the data. Budget = half the
    * corpus; each source keeps its t_s = max(1, ⌊B·√c_s / Σ√c⌋) first
    * docs in deterministic hash order.
    *
    * Float determinism: sqrt and IEEE ÷/× are correctly rounded in
    * both engines, but the Σ√c denominator is order-sensitive — so it
    * is an ORDER-PINNED fold over the source histogram sorted by name
    * (the q93 in-row-fold treatment), bit-identical cross-engine.
    *
    * 100 TB shape: the histogram is #sources rows (a partial-agg
    * count), the fold is one 1-row aggregate, targets broadcast back
    * onto the corpus, and the only corpus-width exchange is the
    * per-source hash-order window q44/q97 already pay. */
  def q102TemperatureMix(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(s, d).select(col("doc_id"), col("source"))
    val hist = docs.groupBy(col("source")).agg(count(lit(1)).as("c"))
    val folded = hist
      .agg(sort_array(collect_list(struct(col("source"), col("c")))).as("h"))
      .select(col("h"),
        expr("aggregate(h, CAST(0.0 AS DOUBLE), (a, x) -> a + sqrt(CAST(x.c AS DOUBLE)))")
          .as("denom"),
        expr("aggregate(h, CAST(0 AS BIGINT), (a, x) -> a + x.c)")
          .as("n_total"))
    val targets = folded
      .select(explode(col("h")).as("x"), col("denom"), col("n_total"))
      .select(col("x.source").as("source"), col("x.c").as("c"),
        greatest(lit(1L),
          floor(col("n_total").cast("double") / lit(2.0) *
            sqrt(col("c").cast("double")) / col("denom"))).as("target"))
    // Hash-order key with doc_id PRE-REDUCED mod m: ((id mod m)·k) mod m
    // equals (id·k) mod m by modular arithmetic, but the product is
    // bounded by (m−1)·2654435761 ≪ 2^63 — the unreduced form overflows
    // BIGINT (ANSI: throws) for doc_id ≳ 3.47e9, i.e. exactly the
    // 100 TB corpus this query advertises. Same treatment at every
    // doc_id·2654435761 site in this file, mirrored in the oracles.
    val w = Window.partitionBy(col("source"))
      .orderBy(docOrdKey, col("doc_id"))
    docs.join(broadcast(targets), Seq("source"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("kept", col("rank") <= col("target"))
      .select(col("doc_id"), col("source"), col("c"), col("target"),
        col("rank"), col("kept"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q102_temperature_mix" -> (q102TemperatureMix _),
    "q101_quality_classifier" -> (q101QualityClassifier _),
    "q100_bpe_merges"      -> (q100BpeMerges _),
    "q106_bpe_encode"      -> (q106BpeEncode _),
    "q99_substring_dedup"  -> (q99SubstringDedup _),
    "q96_boilerplate_grams" -> (q96BoilerplateGrams _),
    "q97_token_budget"      -> (q97TokenBudget _),
    "q92_tfidf_keywords"    -> (q92TfidfKeywords _),
    "q93_lm_score"          -> (q93LmScore _),
    "q103_lm_score_pruned"  -> (q103LmScorePruned _),
    "q104_classifier_train" -> (q104ClassifierTrain _),
    "q105_classifier_learned" -> (q105ClassifierLearned _),
    "q94_chunk_overlap"     -> (q94ChunkOverlap _),
    "q42_neardup_survivors" -> (q42NeardupSurvivors _),
    "q43_train_split"       -> (q43TrainSplit _),
    "q44_source_cap"        -> (q44SourceCap _),
    "q66_stratified_sample" -> (q66StratifiedSample _),
    "q51_decontaminate"     -> (q51Decontaminate _),
    "q60_decontaminate_bloom" -> (q60DecontaminateBloom _),
    "q62_dup_clusters"      -> (q62DupClusters _),
    "q72_canonical_docs"    -> (q72CanonicalDocs _),
    "q75_familiarity"       -> (q75Familiarity _),
    "q76_incremental_dedup" -> (q76IncrementalDedup _),
    "q78_length_buckets"    -> (q78LengthBuckets _),
    "q80_normalize_text"    -> (q80NormalizeText _),
    "q81_code_detect"       -> (q81CodeDetect _),
    "q82_split_leakage"     -> (q82SplitLeakage _),
    "q83_diversity_audit"   -> (q83DiversityAudit _),
    "q84_fuzzy_join"        -> (q84FuzzyJoin _),
    "q85_reference_integrity" -> (q85ReferenceIntegrity _),
    "q88_containment_join"  -> (q88ContainmentJoin _),
    "q63_ensemble_neardup"  -> (q63EnsembleNeardup _),
    "q52_repetition_filter" -> (q52RepetitionFilter _),
    "q53_source_mix"        -> (q53SourceMix _),
    "q54_sequence_pack"     -> (q54SequencePack _),
    "q56_vocabulary"        -> (q56Vocabulary _),
    "q58_corpus_release"    -> (q58CorpusRelease _),
    "q30_text_stats"     -> (q30TextStats _),
    "q31_langid"         -> (q31LangId _),
    "q32_dedup_exact"    -> (q32DedupExact _),
    "q33_ngram_jaccard"  -> (q33NgramJaccard _),
    "q34_minhash_lsh"    -> (q34MinhashLsh _),
    "q35_simhash"        -> (q35Simhash _),
    "q38_fingerprint"    -> (q38Fingerprint _),
  )

  /** Shared by q51 (broadcast verify) and q60 (bloom prefilter + verify):
    * two physical strategies, one logical answer. */
  private val decontaminateSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
      |g AS (SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(w[i:i+3], ' ')
      |     for i in range(1, greatest(len(w) - 3, 0) + 1)])) AS gram FROM w),
      |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 41 = 0)
      |SELECT g.doc_id, CAST(count(DISTINCT g.gram) AS BIGINT) AS n_hit_grams
      |FROM g JOIN bench USING (gram) WHERE g.doc_id % 41 != 0
      |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  /** Shared CTE prefix of the q104/q105 oracles: features → teacher
    * labels → [[LmEpochs]] GENERATED epochs of the fixed-point
    * GD+momentum recurrence — one definition (and one generator loop)
    * so the train and infer oracles can never desynchronize on the
    * model they restate (the q48/q89 dedup discipline), and the epoch
    * count/constants stay literally tied to [[classifierTrainSteps]]'s.
    * Declared before `oracle`: object vals initialize in source order.
    * DuckDB notes: `>>` is arithmetic shift on BIGINT (floor division
    * by 2^k, matching Spark's shiftright — verified on negatives), but
    * `//` TRUNCATES toward zero on negatives (-7//2 = -3, verified) —
    * so the mean gradient uses the explicit floor form
    * (gs − ((gs % n + n) % n)) // n, which is exactly divisible and
    * therefore trunc-vs-floor-proof, mirroring Spark's
    * (g − pmod(g, n)) div n. */
  private val classifierTrainCtes: String = {
    val base =
      """t AS MATERIALIZED (SELECT doc_id,
        |    list_filter(string_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |wb AS MATERIALIZED (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS x FROM (
        |    SELECT doc_id,
        |      (list_reduce(list_prepend(CAST(7 AS BIGINT),
        |         list_transform(generate_series(1, CAST(length(w) AS INTEGER)),
        |           i -> CAST(ascii(substring(w, i, 1)) AS BIGINT))),
        |       (a, c) -> (a * 31 + c) % 1048573) % 64) AS b
        |    FROM (SELECT doc_id, unnest(ws) AS w FROM t))
        |  GROUP BY 1, 2),
        |feats AS MATERIALIZED (SELECT * FROM wb UNION ALL
        |  SELECT doc_id, CAST(64 AS BIGINT), CAST(1 AS BIGINT) FROM t),
        |teacher AS MATERIALIZED (SELECT CAST(range AS BIGINT) AS b,
        |  (range * 2654435761) % 17 - 8 AS wt FROM range(64)),
        |ts AS MATERIALIZED (SELECT f.doc_id, CAST(sum(f.x * te.wt) AS BIGINT) AS v
        |  FROM wb f JOIN teacher te USING (b) GROUP BY 1),
        |lab AS MATERIALIZED (SELECT t.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
        |    CASE WHEN COALESCE(ts.v, 0) >= 0 THEN CAST(1 AS BIGINT)
        |         ELSE CAST(-1 AS BIGINT) END AS y
        |  FROM t LEFT JOIN ts USING (doc_id)),
        |nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
        |buckets AS MATERIALIZED (SELECT CAST(range AS BIGINT) AS b FROM range(65)),
        |w0 AS MATERIALIZED (SELECT b, CAST(0 AS BIGINT) AS nw FROM buckets),
        |v0 AS MATERIALIZED (SELECT b, CAST(0 AS BIGINT) AS nv FROM buckets)""".stripMargin
    val epochs = (1 to LmEpochs).map { e =>
      s"""s$e AS MATERIALIZED (SELECT f.doc_id, CAST(sum(f.x * w.nw) AS BIGINT) AS s
         |  FROM feats f JOIN w${e - 1} w USING (b) GROUP BY 1),
         |r$e AS MATERIALIZED (SELECT lab.doc_id, lab.y * ${1L << LmS} - s.s AS r,
         |    CASE WHEN (s.s >= 0) <> (lab.y = 1) THEN 1 ELSE 0 END AS wrong
         |  FROM lab JOIN s$e s USING (doc_id)),
         |n$e AS MATERIALIZED (SELECT CAST(sum(wrong) AS BIGINT) AS cw FROM r$e),
         |gs$e AS MATERIALIZED (SELECT f.b, CAST(sum(r.r * f.x) AS BIGINT) AS gs
         |  FROM r$e r JOIN feats f USING (doc_id) GROUP BY 1),
         |g$e AS MATERIALIZED (SELECT b,
         |    (gs - (((gs % n.n) + n.n) % n.n)) // n.n AS g FROM gs$e, nn n),
         |v$e AS MATERIALIZED (SELECT b,
         |    CAST(COALESCE(g.g, 0) + v.nv - (v.nv >> $LmM) AS BIGINT) AS nv
         |  FROM buckets LEFT JOIN g$e g USING (b) JOIN v${e - 1} v USING (b)),
         |w$e AS MATERIALIZED (SELECT b, CAST(w.nw + (v.nv >> $LmK) AS BIGINT) AS nw
         |  FROM w${e - 1} w JOIN v$e v USING (b))""".stripMargin
    }
    (base +: epochs).mkString(",\n")
  }

  val oracle: Map[String, String] = Map(
    "q102_temperature_mix" ->
      """WITH hist AS (SELECT source, CAST(count(*) AS BIGINT) c
        |  FROM documents GROUP BY 1),
        |agg AS (SELECT list(struct_pack(source := source, c := c)
        |    ORDER BY source) h FROM hist),
        |den AS (SELECT
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(h, x -> sqrt(CAST(x.c AS DOUBLE)))),
        |    (a, b) -> a + b) AS denom,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(h, x -> x.c)), (a, b) -> a + b) AS n_total
        |  FROM agg),
        |targets AS (SELECT h.source, h.c,
        |  greatest(1, CAST(floor(CAST(d.n_total AS DOUBLE) / 2.0 *
        |    sqrt(CAST(h.c AS DOUBLE)) / d.denom) AS BIGINT)) AS target
        |  FROM hist h, den d),
        |r AS (SELECT doc_id, source,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY ((doc_id % 1000003) * 2654435761) % 1000003, doc_id) AS BIGINT)
        |    AS rank FROM documents)
        |SELECT r.doc_id, r.source, t.c, t.target, r.rank,
        |  r.rank <= t.target AS kept
        |FROM r JOIN targets t USING (source) ORDER BY doc_id""".stripMargin,
    "q101_quality_classifier" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |s AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(ws, w ->
        |      ((list_reduce(list_prepend(CAST(7 AS BIGINT),
        |           list_transform(generate_series(1, CAST(length(w) AS INTEGER)),
        |             i -> CAST(ascii(substring(w, i, 1)) AS BIGINT))),
        |         (a, c) -> (a * 31 + c) % 1048573) % 64) * 2654435761) % 17 - 8)),
        |    (acc, v) -> acc + v) AS score FROM t)
        |SELECT doc_id, n_tokens, score,
        |  CASE WHEN n_tokens = 0 THEN 0.0
        |       ELSE CAST(score AS DOUBLE) / n_tokens END AS mean_weight,
        |  score >= 0 AS keep
        |FROM s ORDER BY doc_id""".stripMargin,
    "q100_bpe_merges" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS word
        |  FROM documents),
        |vocab AS (SELECT word, CAST(count(*) AS BIGINT) c FROM w
        |  WHERE word <> '' GROUP BY 1),
        |v0 AS (SELECT word, c,
        |  ' ' || array_to_string(regexp_split_to_array(word,''), '  ') || ' '
        |    AS seq FROM vocab),
        |pc1 AS (SELECT u.p.s1 AS s1, u.p.s2 AS s2,
        |    CAST(sum(c) AS BIGINT) cnt
        |  FROM (SELECT c, string_split(trim(seq),'  ') s FROM v0) t,
        |    unnest([{'s1': t.s[i], 's2': t.s[i+1]}
        |      for i in range(1, len(t.s))]) u(p)
        |  GROUP BY 1, 2),
        |m1 AS (SELECT s1, s2 FROM pc1 ORDER BY cnt DESC, s1, s2 LIMIT 1),
        |v1 AS (SELECT word, c,
        |  replace(seq, ' '||m.s1||'  '||m.s2||' ', ' '||m.s1||m.s2||' ') seq
        |  FROM v0 CROSS JOIN m1 m),
        |pc2 AS (SELECT u.p.s1 AS s1, u.p.s2 AS s2,
        |    CAST(sum(c) AS BIGINT) cnt
        |  FROM (SELECT c, string_split(trim(seq),'  ') s FROM v1) t,
        |    unnest([{'s1': t.s[i], 's2': t.s[i+1]}
        |      for i in range(1, len(t.s))]) u(p)
        |  GROUP BY 1, 2),
        |m2 AS (SELECT s1, s2 FROM pc2 ORDER BY cnt DESC, s1, s2 LIMIT 1),
        |v2 AS (SELECT word, c,
        |  replace(seq, ' '||m.s1||'  '||m.s2||' ', ' '||m.s1||m.s2||' ') seq
        |  FROM v1 CROSS JOIN m2 m),
        |pc3 AS (SELECT u.p.s1 AS s1, u.p.s2 AS s2,
        |    CAST(sum(c) AS BIGINT) cnt
        |  FROM (SELECT c, string_split(trim(seq),'  ') s FROM v2) t,
        |    unnest([{'s1': t.s[i], 's2': t.s[i+1]}
        |      for i in range(1, len(t.s))]) u(p)
        |  GROUP BY 1, 2),
        |m3 AS (SELECT s1, s2 FROM pc3 ORDER BY cnt DESC, s1, s2 LIMIT 1),
        |v3 AS (SELECT word, c,
        |  replace(seq, ' '||m.s1||'  '||m.s2||' ', ' '||m.s1||m.s2||' ') seq
        |  FROM v2 CROSS JOIN m3 m),
        |vt AS (SELECT word, CAST(length(word) AS BIGINT) n_base,
        |  CAST(len(string_split(trim(seq),'  ')) AS BIGINT) n_toks FROM v3)
        |SELECT w.doc_id,
        |  CAST(sum(vt.n_base) AS BIGINT) AS n_char_tokens,
        |  CAST(sum(vt.n_toks) AS BIGINT) AS n_bpe_tokens,
        |  CAST(sum(vt.n_base) - sum(vt.n_toks) AS BIGINT) AS n_saved,
        |  min(m1.s1 || m1.s2) AS merge1,
        |  min(m2.s1 || m2.s2) AS merge2,
        |  min(m3.s1 || m3.s2) AS merge3
        |FROM w JOIN vt USING (word)
        |  CROSS JOIN m1 CROSS JOIN m2 CROSS JOIN m3
        |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin,
    // q106 restates q100's induction CTEs verbatim, then ENCODES: the
    // final vocab state maps each word to its token string, and each
    // document re-assembles its words' tokens in document order
    // (string_agg ORDER BY the word's split position — the Spark side
    // sorts (pos, toks) structs inside the agg, same order)
    "q106_bpe_encode" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS word
        |  FROM documents),
        |vocab AS (SELECT word, CAST(count(*) AS BIGINT) c FROM w
        |  WHERE word <> '' GROUP BY 1),
        |v0 AS (SELECT word, c,
        |  ' ' || array_to_string(regexp_split_to_array(word,''), '  ') || ' '
        |    AS seq FROM vocab),
        |pc1 AS (SELECT u.p.s1 AS s1, u.p.s2 AS s2,
        |    CAST(sum(c) AS BIGINT) cnt
        |  FROM (SELECT c, string_split(trim(seq),'  ') s FROM v0) t,
        |    unnest([{'s1': t.s[i], 's2': t.s[i+1]}
        |      for i in range(1, len(t.s))]) u(p)
        |  GROUP BY 1, 2),
        |m1 AS (SELECT s1, s2 FROM pc1 ORDER BY cnt DESC, s1, s2 LIMIT 1),
        |v1 AS (SELECT word, c,
        |  replace(seq, ' '||m.s1||'  '||m.s2||' ', ' '||m.s1||m.s2||' ') seq
        |  FROM v0 CROSS JOIN m1 m),
        |pc2 AS (SELECT u.p.s1 AS s1, u.p.s2 AS s2,
        |    CAST(sum(c) AS BIGINT) cnt
        |  FROM (SELECT c, string_split(trim(seq),'  ') s FROM v1) t,
        |    unnest([{'s1': t.s[i], 's2': t.s[i+1]}
        |      for i in range(1, len(t.s))]) u(p)
        |  GROUP BY 1, 2),
        |m2 AS (SELECT s1, s2 FROM pc2 ORDER BY cnt DESC, s1, s2 LIMIT 1),
        |v2 AS (SELECT word, c,
        |  replace(seq, ' '||m.s1||'  '||m.s2||' ', ' '||m.s1||m.s2||' ') seq
        |  FROM v1 CROSS JOIN m2 m),
        |pc3 AS (SELECT u.p.s1 AS s1, u.p.s2 AS s2,
        |    CAST(sum(c) AS BIGINT) cnt
        |  FROM (SELECT c, string_split(trim(seq),'  ') s FROM v2) t,
        |    unnest([{'s1': t.s[i], 's2': t.s[i+1]}
        |      for i in range(1, len(t.s))]) u(p)
        |  GROUP BY 1, 2),
        |m3 AS (SELECT s1, s2 FROM pc3 ORDER BY cnt DESC, s1, s2 LIMIT 1),
        |v3 AS (SELECT word, c,
        |  replace(seq, ' '||m.s1||'  '||m.s2||' ', ' '||m.s1||m.s2||' ') seq
        |  FROM v2 CROSS JOIN m3 m),
        |enc AS (SELECT word,
        |  array_to_string(string_split(trim(seq),'  '), ' ') AS toks,
        |  CAST(len(string_split(trim(seq),'  ')) AS BIGINT) AS n_toks
        |  FROM v3),
        |wp AS (SELECT doc_id, u.x.w AS word, u.x.p AS pos
        |  FROM (SELECT doc_id, string_split(text,' ') s FROM documents) t,
        |    unnest([{'w': t.s[i], 'p': i}
        |      for i in range(1, len(t.s) + 1)]) u(x)
        |  WHERE u.x.w <> '')
        |SELECT wp.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(enc.n_toks) AS BIGINT) AS n_tokens,
        |  string_agg(enc.toks, ' ' ORDER BY wp.pos) AS tokens
        |FROM wp JOIN enc USING (word)
        |GROUP BY wp.doc_id ORDER BY wp.doc_id""".stripMargin,
    "q99_substring_dedup" ->
      s"""WITH g AS (
         |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |    substr(text, i, $SubstrL) AS gram
         |  FROM documents,
         |    unnest(range(1, greatest(length(text) - ${SubstrL - 2}, 1))) AS t(i)),
         |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
         |hits AS (SELECT doc_id, pos FROM g SEMI JOIN dup USING (gram)),
         |isl AS (SELECT doc_id, pos,
         |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |           > $SubstrL THEN 1 ELSE 0 END AS brk
         |  FROM hits),
         |grp AS (SELECT doc_id, pos,
         |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
         |                   ROWS UNBOUNDED PRECEDING) AS island
         |  FROM isl)
         |SELECT doc_id, CAST(island AS BIGINT) AS span_idx,
         |  min(pos) AS span_start, max(pos) + $SubstrL AS span_end,
         |  CAST(max(pos) + $SubstrL - min(pos) AS BIGINT) AS span_len,
         |  CAST(count(*) AS BIGINT) AS n_grams
         |FROM grp GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin,
    "q96_boilerplate_grams" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
         |sh AS (SELECT doc_id, $duckShingles sh FROM w),
         |g AS (SELECT doc_id, unnest(sh) AS gram FROM sh),
         |df AS (SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS gram_df
         |  FROM g GROUP BY 1),
         |m AS (SELECT CAST(sum(gram_df) AS DOUBLE) / count(*) AS mean_df FROM df),
         |agg AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |    CAST(sum(CASE WHEN df.gram_df > 2.0 * m.mean_df THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_boiler
         |  FROM g JOIN df USING (gram) CROSS JOIN m GROUP BY g.doc_id)
         |SELECT doc_id, n_grams, n_boiler,
         |  CAST(n_boiler AS DOUBLE) / n_grams AS boiler_frac,
         |  CAST(n_boiler AS DOUBLE) / n_grams <= 0.25 AS keep
         |FROM agg ORDER BY doc_id""".stripMargin,
    "q97_token_budget" ->
      """WITH x AS (SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    ((doc_id % 1000003) * 2654435761) % 1000003 AS ok FROM documents),
        |y AS (SELECT source, doc_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY ok, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tb
        |  FROM x)
        |SELECT source, doc_id, n_tokens, CAST(tb AS BIGINT) AS tokens_before,
        |  tb < 1000 AS kept FROM y ORDER BY source, doc_id""".stripMargin,
    "q92_tfidf_keywords" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
        |scored AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    CAST(tf.tf AS DOUBLE) * CAST(tot.n_total AS DOUBLE)
        |      / CAST(df.df AS DOUBLE) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN tot)
        |SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, tf, df, score FROM (
        |  SELECT scored.*, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term) AS rk FROM scored)
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "q93_lm_score" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |bg AS (SELECT doc_id,
        |    unnest([CAST(i - 1 AS BIGINT)
        |      for i in range(1, greatest(len(w) - 1, 0) + 1)]) AS pos,
        |    unnest([w[i]
        |      for i in range(1, greatest(len(w) - 1, 0) + 1)]) AS w1,
        |    unnest([w[i + 1]
        |      for i in range(1, greatest(len(w) - 1, 0) + 1)]) AS w2
        |  FROM w),
        |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
        |  FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v
        |  FROM (SELECT unnest(w) AS t FROM w)),
        |p AS (SELECT bg.doc_id, bg.pos,
        |    (CAST(c2.c2 AS DOUBLE) + 1.0) / CAST(c1.c1 + v.v AS DOUBLE) AS p
        |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(p ORDER BY pos)), (acc, x) -> acc + x) AS sum_p,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(p ORDER BY pos)), (acc, x) -> acc + x) / count(*) AS avg_p,
        |  min(p) AS min_p,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(p ORDER BY pos)), (acc, x) -> acc + x) / count(*) >= 0.034 AS keep
        |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q104_classifier_train" -> {
      val sel = (1 to LmEpochs).map(e =>
        s"""SELECT CAST($e AS BIGINT) AS epoch, b AS bucket, nw AS weight,
           |  (SELECT cw FROM n$e) AS n_wrong FROM w$e""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"WITH $classifierTrainCtes\n$sel\nORDER BY epoch, bucket"
    },
    "q105_classifier_learned" ->
      s"""WITH $classifierTrainCtes,
         |sc AS (SELECT f.doc_id, CAST(sum(f.x * w.nw) AS BIGINT) AS s
         |  FROM feats f JOIN w$LmEpochs w USING (b) GROUP BY 1)
         |SELECT lab.doc_id, lab.n_tokens, lab.y AS label, sc.s AS score,
         |  sc.s >= 0 AS keep, (sc.s >= 0) = (lab.y = 1) AS correct
         |FROM lab JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q103_lm_score_pruned" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
         |bg AS (SELECT doc_id,
         |    unnest([CAST(i - 1 AS BIGINT)
         |      for i in range(1, greatest(len(w) - 1, 0) + 1)]) AS pos,
         |    unnest([w[i]
         |      for i in range(1, greatest(len(w) - 1, 0) + 1)]) AS w1,
         |    unnest([w[i + 1]
         |      for i in range(1, greatest(len(w) - 1, 0) + 1)]) AS w2
         |  FROM w),
         |cnt AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
         |  FROM bg GROUP BY 1, 2),
         |kept AS (SELECT w1, w2, c2 FROM cnt WHERE c2 >= $LmMinCount
         |  ORDER BY c2 DESC, w1, w2 LIMIT $LmMaxEntries),
         |c1 AS (SELECT cnt.w1, CAST(sum(cnt.c2) AS BIGINT) AS c1 FROM cnt
         |  WHERE cnt.w1 IN (SELECT w1 FROM kept) GROUP BY 1),
         |v AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v
         |  FROM (SELECT unnest(w) AS t FROM w)),
         |p AS (SELECT bg.doc_id, bg.pos,
         |    (CAST(COALESCE(kept.c2, 0) AS DOUBLE) + 1.0)
         |      / CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE) AS p,
         |    CASE WHEN kept.c2 IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM bg LEFT JOIN kept USING (w1, w2) LEFT JOIN c1 USING (w1)
         |  CROSS JOIN v)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(oov) AS BIGINT) AS n_oov,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(p ORDER BY pos)), (acc, x) -> acc + x) AS sum_p,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(p ORDER BY pos)), (acc, x) -> acc + x) / count(*) AS avg_p,
         |  min(p) AS min_p,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(p ORDER BY pos)), (acc, x) -> acc + x) / count(*) >= 0.034 AS keep
         |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q94_chunk_overlap" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') w,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |x AS (SELECT doc_id, w, n,
        |    CASE WHEN n <= 64 THEN 1 ELSE 1 + (n - 64 + 47) // 48 END AS nc
        |  FROM w)
        |SELECT doc_id,
        |  unnest([CAST(i - 1 AS BIGINT) for i in range(1, nc + 1)]) AS chunk_idx,
        |  unnest([CAST((i - 1) * 48 AS BIGINT)
        |    for i in range(1, nc + 1)]) AS start_tok,
        |  unnest([CAST(len(w[((i - 1) * 48 + 1):least((i - 1) * 48 + 64, n)])
        |    AS BIGINT) for i in range(1, nc + 1)]) AS chunk_len,
        |  unnest([md5(array_to_string(
        |      w[((i - 1) * 48 + 1):least((i - 1) * 48 + 64, n)], ' '))
        |    for i in range(1, nc + 1)]) AS chunk_md5
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin,
    "q42_neardup_survivors" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
         |sh AS (SELECT doc_id, $duckShingles sh FROM w),
         |${duckPrefixCands(4, 5, "a.doc_id < b.doc_id")},
         |p AS (SELECT cand.doc_b, $duckJaccSaSb AS j
         |  FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a
         |            JOIN sh sb ON sb.doc_id = cand.doc_b)
         |SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT DISTINCT doc_b FROM p WHERE j >= 0.8)
         |ORDER BY doc_id""".stripMargin,
    "q43_train_split" ->
      """SELECT lang,
        |  CASE WHEN ((doc_id % 100) * 2654435761) % 100 < 80 THEN 'train'
        |       WHEN ((doc_id % 100) * 2654435761) % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
        |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,
    "q66_stratified_sample" ->
      """WITH x AS (SELECT source, doc_id,
        |    CASE COALESCE(TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT), 0) % 4
        |      WHEN 0 THEN 10 WHEN 1 THEN 25 WHEN 2 THEN 50 ELSE 75 END AS rate_pct,
        |    ((doc_id % 100) * 2654435761) % 100 AS bucket
        |  FROM documents)
        |SELECT source, rate_pct, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN bucket < rate_pct THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM x GROUP BY source, rate_pct ORDER BY source""".stripMargin,
    "q44_source_cap" ->
      """WITH r AS (SELECT source, doc_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY ((doc_id % 1000003) * 2654435761) % 1000003, doc_id) AS BIGINT) AS rk
        |  FROM documents)
        |SELECT source, rk, doc_id FROM r WHERE rk <= 5
        |ORDER BY source, rk""".stripMargin,
    "q30_text_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\x0B\f\r]')) AS BIGINT) AS n_subtokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_computed,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the','a','of','is','and','to'))) AS BIGINT) AS n_stopwords,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the','a','of','is','and','to'))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS stop_ratio,
        |  CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |    / len(string_split(text, ' ')) AS avg_word_len,
        |  0.4 * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0)
        |  + 0.3 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
        |      t -> t IN ('the','a','of','is','and','to'))) AS DOUBLE)
        |      / len(string_split(text, ' ')))
        |  + 0.3 * (CASE WHEN length(text) = 0 THEN 0.0
        |      ELSE CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
        |      / length(text) END) AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q31_langid" ->
      """WITH x AS (SELECT doc_id, lang AS labeled_lang,
        |  CAST(len(list_filter(string_split(text,' '), t -> t IN ('the','a','is','of'))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(string_split(text,' '), t -> t IN ('el','la','los','de'))) AS BIGINT) AS s_es,
        |  CAST(len(list_filter(string_split(text,' '), t -> t IN ('der','die','und','das'))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(string_split(text,' '), t -> t IN ('le','les','est','une'))) AS BIGINT) AS s_fr,
        |  CAST(len(list_filter(string_split(text,' '), t -> t IN ('的','是','不'))) AS BIGINT) AS s_zh
        |  FROM documents)
        |SELECT doc_id, labeled_lang, s_en, s_es, s_de, s_fr, s_zh,
        |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |       WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |       WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       WHEN s_fr >= s_zh THEN 'fr'
        |       ELSE 'zh' END AS predicted_lang
        |FROM x ORDER BY doc_id""".stripMargin,
    "q32_dedup_exact" ->
      """SELECT md5(text) AS content_md5, MIN(doc_id) AS keep_id, COUNT(*) AS group_size
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "q58_corpus_release" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
         |sh AS (SELECT doc_id, $duckShingles sh FROM w),
         |${duckPrefixCands(4, 5, "a.doc_id < b.doc_id")},
         |dup AS (SELECT DISTINCT cand.doc_b AS doc_id
         |  FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a
         |            JOIN sh sb ON sb.doc_id = cand.doc_b
         |  WHERE $duckJaccSaSb >= 0.8),
         |keepex AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |rep AS (SELECT w.doc_id FROM w
         |  LEFT JOIN (SELECT doc_id, max(c) AS top_bg, sum(c) AS n_bg FROM
         |      (SELECT doc_id, bg, count(*) AS c FROM
         |        (SELECT doc_id, unnest([array_to_string(w[i:i+1], ' ')
         |           for i in range(1, greatest(len(w) - 1, 0) + 1)]) AS bg FROM w)
         |       GROUP BY 1, 2) GROUP BY 1) t USING (doc_id)
         |  WHERE 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) <= 0.6
         |    AND COALESCE(CAST(top_bg AS DOUBLE) / n_bg, 0.0) <= 0.1),
         |g AS (SELECT doc_id, unnest(list_distinct(
         |    [array_to_string(w[i:i+3], ' ')
         |     for i in range(1, greatest(len(w) - 3, 0) + 1)])) AS gram FROM w),
         |cont AS (SELECT DISTINCT g.doc_id FROM g
         |  JOIN (SELECT DISTINCT gram FROM g WHERE doc_id % 41 = 0) b USING (gram)
         |  WHERE g.doc_id % 41 != 0)
         |SELECT d.doc_id, d.source,
         |  CASE WHEN ((d.doc_id % 100) * 2654435761) % 100 < 80 THEN 'train'
         |       WHEN ((d.doc_id % 100) * 2654435761) % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents d
         |WHERE d.doc_id IN (SELECT doc_id FROM keepex)
         |  AND d.doc_id NOT IN (SELECT doc_id FROM dup)
         |  AND d.doc_id IN (SELECT doc_id FROM rep)
         |  AND d.doc_id NOT IN (SELECT doc_id FROM cont)
         |  AND d.doc_id % 41 != 0 AND d.lang = 'en'
         |ORDER BY d.doc_id""".stripMargin,
    "q56_vocabulary" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents)
        |SELECT token, CAST(count(*) AS BIGINT) AS tf,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |FROM tok GROUP BY token
        |ORDER BY tf DESC, token LIMIT 20""".stripMargin,
    "q51_decontaminate" -> decontaminateSql,
    // q60 is a different PLAN for the same answer: the bloom prefilter
    // must be invisible in the output, so it shares q51's oracle verbatim.
    "q60_decontaminate_bloom" -> decontaminateSql,
    "q52_repetition_filter" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |base AS (SELECT doc_id, len(w) AS n, len(list_distinct(w)) AS nd FROM w),
        |bg AS (SELECT doc_id, unnest([array_to_string(w[i:i+1], ' ')
        |    for i in range(1, greatest(len(w) - 1, 0) + 1)]) AS bg FROM w),
        |cnt AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
        |top AS (SELECT doc_id, max(c) AS top_bg, sum(c) AS n_bg FROM cnt GROUP BY 1),
        |j AS (SELECT base.doc_id,
        |    1.0 - CAST(nd AS DOUBLE) / n AS dup_word_frac,
        |    COALESCE(CAST(top_bg AS DOUBLE) / n_bg, 0.0) AS top_bigram_frac
        |  FROM base LEFT JOIN top USING (doc_id))
        |SELECT doc_id, dup_word_frac, top_bigram_frac,
        |  (dup_word_frac <= 0.6 AND top_bigram_frac <= 0.1) AS keep
        |FROM j ORDER BY doc_id""".stripMargin,
    "q53_source_mix" ->
      """WITH s AS (SELECT source, count(*) AS n_src FROM documents GROUP BY 1),
        |t AS (SELECT count(*) AS n_total, count(DISTINCT source) AS n_sources
        |      FROM documents)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN CAST((((d.doc_id % 1000003) * 2654435761) % 1000003)
        |        AS HUGEINT)
        |      * t.n_sources * s.n_src * 5
        |      < CAST(1000003 AS HUGEINT) * t.n_total * 3
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents d JOIN s USING (source) CROSS JOIN t
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "q54_sequence_pack" ->
      """WITH x AS (SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |y AS (SELECT source, doc_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS so
        |  FROM x)
        |SELECT source, doc_id, n_tokens,
        |  CAST(so AS BIGINT) AS start_offset,
        |  CAST(so // 512 AS BIGINT) AS first_seq,
        |  CAST((so + n_tokens - 1) // 512 AS BIGINT) AS last_seq,
        |  (so // 512) != ((so + n_tokens - 1) // 512) AS straddles
        |FROM y ORDER BY source, doc_id""".stripMargin,
    "q33_ngram_jaccard" -> jaccardOracle(4, 5, "0.8"),
    "q63_ensemble_neardup" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
         |sh AS (SELECT doc_id, $duckShingles sh FROM w),
         |${duckPrefixCands(4, 5, "a.doc_id < b.doc_id")},
         |tp AS (SELECT cand.doc_a, cand.doc_b
         |  FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a
         |            JOIN sh sb ON sb.doc_id = cand.doc_b
         |  WHERE $duckJaccSaSb >= 0.8),
         |ep AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |  WHERE ${Vectors.duckCosine("a.embedding", "b.embedding")} >= 0.4)
         |SELECT COALESCE(tp.doc_a, ep.doc_a) AS doc_a,
         |  COALESCE(tp.doc_b, ep.doc_b) AS doc_b,
         |  CASE WHEN tp.doc_a IS NOT NULL AND ep.doc_a IS NOT NULL THEN 'both'
         |       WHEN tp.doc_a IS NOT NULL THEN 'text'
         |       ELSE 'embedding' END AS signal
         |FROM tp FULL OUTER JOIN ep
         |  ON tp.doc_a = ep.doc_a AND tp.doc_b = ep.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin,
    // transitive closure of the q33 pair graph: recursive CTE enumerates
    // (node, reachable-node) pairs; min per node = component label
    "q62_dup_clusters" ->
      s"""WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
         |sh AS (SELECT doc_id, $duckShingles sh FROM w),
         |${duckPrefixCands(4, 5, "a.doc_id < b.doc_id")},
         |p AS (SELECT cand.doc_a, cand.doc_b
         |  FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a
         |            JOIN sh sb ON sb.doc_id = cand.doc_b
         |  WHERE $duckJaccSaSb >= 0.8),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM p
         |      UNION SELECT doc_b, doc_a FROM p),
         |r(n, m) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
         |  UNION
         |  SELECT e.v, r.m FROM r JOIN e ON r.n = e.u),
         |comp AS (SELECT n AS doc_id, min(m) AS cluster_id FROM r GROUP BY n)
         |SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
         |FROM documents d LEFT JOIN comp c USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q72_canonical_docs" ->
      s"""WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
         |sh AS (SELECT doc_id, $duckShingles sh FROM w),
         |${duckPrefixCands(4, 5, "a.doc_id < b.doc_id")},
         |p AS (SELECT cand.doc_a, cand.doc_b
         |  FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a
         |            JOIN sh sb ON sb.doc_id = cand.doc_b
         |  WHERE $duckJaccSaSb >= 0.8),
         |e AS (SELECT doc_a AS u, doc_b AS v FROM p
         |      UNION SELECT doc_b, doc_a FROM p),
         |r(n, m) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
         |  UNION
         |  SELECT e.v, r.m FROM r JOIN e ON r.n = e.u),
         |comp AS (SELECT n AS doc_id, min(m) AS cluster_id FROM r GROUP BY n),
         |asg AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
         |    d.n_chars
         |  FROM documents d LEFT JOIN comp c USING (doc_id)),
         |sel AS (SELECT cluster_id, doc_id, n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY cluster_id
         |      ORDER BY n_chars DESC, doc_id ASC) AS rk,
         |    COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
         |  FROM asg)
         |SELECT cluster_id, CAST(n_members AS BIGINT) AS n_members,
         |  doc_id AS keep_doc_id, n_chars AS keep_chars
         |FROM sel WHERE rk = 1 AND n_members >= 2
         |ORDER BY cluster_id""".stripMargin,
    "q88_containment_join" ->
      // containment only bounds the EXCERPT side (|A∩B| >= ceil(0.9|A|)),
      // so A's prefix joins B's FULL token inventory — the same
      // A-prefix × B-full inverted index the Spark side runs
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
         |sh AS (SELECT doc_id, $duckShingles sh FROM w),
         |${duckPrefixCands(9, 10, "a.doc_id != b.doc_id", bRel = "tok")}
         |SELECT cand.doc_a AS excerpt_id, cand.doc_b AS container_id,
         |  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(sa.sh)
         |    AS containment
         |FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a
         |          JOIN sh sb ON sb.doc_id = cand.doc_b
         |WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(sa.sh) >= 0.9
         |ORDER BY excerpt_id, container_id""".stripMargin,
    "q85_reference_integrity" ->
      """SELECT CAST(COUNT(d.doc_id) AS BIGINT) AS n_docs,
        |  CAST(COUNT(e.vec_id) AS BIGINT) AS n_embeddings,
        |  CAST(SUM(CASE WHEN e.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_without_embedding,
        |  CAST(SUM(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS embeddings_without_doc,
        |  CAST(MIN(len(e.embedding)) AS BIGINT) AS min_dim,
        |  CAST(MAX(len(e.embedding)) AS BIGINT) AS max_dim
        |FROM documents d FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id""".stripMargin,
    "q84_fuzzy_join" ->
      // FastSS candidates instead of the N² levenshtein cross: every
      // lev<=1 pair shares a deletion-neighborhood variant (equal pairs
      // share the string itself; a deletion shares the shorter string;
      // a substitution at position i shares both sides' delete-at-i),
      // so the variant equi-join is a lossless candidate generator and
      // the exact levenshtein verify keeps the output rows identical
      """WITH dirty AS (SELECT c_custkey AS dirty_id,
        |    substring(c_name, 1, CAST(c_custkey % length(c_name) AS INT)) ||
        |    substring(c_name, CAST(c_custkey % length(c_name) AS INT) + 2) AS dirty_name
        |  FROM customer),
        |dv AS (SELECT dirty_id, dirty_name,
        |    unnest(list_distinct([dirty_name] ||
        |      [substring(dirty_name, 1, i - 1) || substring(dirty_name, i + 1)
        |       for i in range(1, length(dirty_name) + 1)])) AS v FROM dirty),
        |cv AS (SELECT c_custkey, c_name,
        |    unnest(list_distinct([c_name] ||
        |      [substring(c_name, 1, i - 1) || substring(c_name, i + 1)
        |       for i in range(1, length(c_name) + 1)])) AS v FROM customer),
        |cand0 AS (SELECT DISTINCT d.dirty_id, d.dirty_name,
        |    c.c_custkey, c.c_name
        |  FROM dv d JOIN cv c ON d.v = c.v),
        |cand AS (SELECT dirty_id, c_custkey AS canon_id FROM cand0
        |  WHERE levenshtein(dirty_name, c_name) <= 1)
        |SELECT dirty_id, MIN(canon_id) AS matched_canon_id,
        |  COUNT(*) AS n_candidates
        |FROM cand GROUP BY dirty_id ORDER BY dirty_id""".stripMargin,
    "q83_diversity_audit" ->
      s"""WITH w AS (SELECT source, string_split(text, ' ') w FROM documents),
         |g AS (SELECT source, unnest($duckShingles) AS g FROM w)
         |SELECT source, COUNT(*) AS n_grams_total,
         |  CAST(COUNT(DISTINCT g) AS BIGINT) AS n_grams_distinct,
         |  CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*) AS ttr
         |FROM g GROUP BY source ORDER BY source""".stripMargin,
    "q82_split_leakage" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
         |sh AS (SELECT doc_id, $duckShingles sh FROM w),
         |${duckPrefixCands(4, 5, "a.doc_id < b.doc_id")},
         |p AS (SELECT cand.doc_a, cand.doc_b
         |  FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a
         |            JOIN sh sb ON sb.doc_id = cand.doc_b
         |  WHERE $duckJaccSaSb >= 0.8),
         |sp AS (SELECT doc_id,
         |    CASE WHEN ((doc_id % 100) * 2654435761) % 100 < 80 THEN 'train'
         |         WHEN ((doc_id % 100) * 2654435761) % 100 < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents)
         |SELECT sa.split AS split_a, sb.split AS split_b,
         |  COUNT(*) AS n_leaked_pairs
         |FROM p JOIN sp sa ON p.doc_a = sa.doc_id
         |       JOIN sp sb ON p.doc_b = sb.doc_id
         |WHERE sa.split != sb.split
         |GROUP BY 1, 2 ORDER BY split_a, split_b""".stripMargin,
    "q81_code_detect" ->
      """WITH m AS (SELECT doc_id,
        |    text || CASE WHEN doc_id % 13 = 5
        |      THEN ' int f(int x){ return x*2; } // generated;' ELSE '' END AS raw
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(raw, '[{}();=]')) AS BIGINT) AS n_sym,
        |    CASE WHEN length(raw) = 0 THEN 0.0
        |      ELSE CAST(len(regexp_extract_all(raw, '[{}();=]')) AS DOUBLE)
        |      / length(raw) END AS sym_frac
        |  FROM m)
        |SELECT doc_id, n_sym, sym_frac, sym_frac > 0.005 AS is_code
        |FROM c ORDER BY doc_id""".stripMargin,
    "q80_normalize_text" ->
      """WITH m AS (SELECT doc_id,
        |    text || CASE WHEN doc_id % 7 = 3
        |      THEN e'\t dirty e' || chr(769) || e'  tail\r\n' ELSE '' END AS raw
        |  FROM documents),
        |c AS (SELECT doc_id, raw,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(raw),
        |      '[\t\r\n]', ' ', 'g'), ' +', ' ', 'g')) AS clean
        |  FROM m)
        |SELECT doc_id, CAST(length(raw) AS BIGINT) AS n_raw,
        |  CAST(length(clean) AS BIGINT) AS n_clean,
        |  md5(clean) AS clean_md5, raw != clean AS changed
        |FROM c ORDER BY doc_id""".stripMargin,
    "q78_length_buckets" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |b AS (SELECT doc_id, n_tokens,
        |    CASE WHEN n_tokens <= 1 THEN CAST(1 AS BIGINT)
        |         ELSE (CAST(1 AS BIGINT) << length(bin(n_tokens - 1))) END AS bucket
        |  FROM t)
        |SELECT bucket, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS real_tokens,
        |  CAST(SUM(bucket - n_tokens) AS BIGINT) AS pad_tokens,
        |  CAST(SUM(bucket - n_tokens) AS DOUBLE) /
        |    (SUM(bucket - n_tokens) + SUM(n_tokens)) AS pad_frac
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q76_incremental_dedup" ->
      // the original pair condition was a FULL inc×corpus cross (no
      // shared-token requirement); only j >= 0.8 pairs survive into
      // `best`, so the prefix filter is lossless here too
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
         |sh AS (SELECT doc_id, $duckShingles sh FROM w),
         |${duckPrefixCands(4, 5, "a.doc_id % 10 = 7 AND b.doc_id % 10 != 7")},
         |x AS (SELECT cand.doc_a AS inc_id, cand.doc_b AS corpus_id,
         |    $duckJaccSaSb AS j
         |  FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a
         |            JOIN sh sb ON sb.doc_id = cand.doc_b),
         |best AS (SELECT inc_id, corpus_id, j,
         |    ROW_NUMBER() OVER (PARTITION BY inc_id
         |      ORDER BY j DESC, corpus_id ASC) AS rk
         |  FROM x WHERE j >= 0.8),
         |inc AS (SELECT doc_id AS inc_id FROM documents WHERE doc_id % 10 = 7)
         |SELECT i.inc_id, b.corpus_id AS best_match, b.j AS best_jaccard,
         |  b.corpus_id IS NOT NULL AS is_dup
         |FROM inc i LEFT JOIN (SELECT * FROM best WHERE rk = 1) b USING (inc_id)
         |ORDER BY inc_id""".stripMargin,
    "q75_familiarity" ->
      """WITH noisy AS (SELECT doc_id,
        |    text || CASE WHEN doc_id % 41 = 0
        |      THEN ' ' || array_to_string(
        |        ['zq' || doc_id || '_' || i for i in range(1, 31)], ' ')
        |      ELSE '' END AS text
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |  FROM noisy),
        |cnt AS (SELECT t, least(CAST(count(*) AS BIGINT), 255) AS cc
        |  FROM tok GROUP BY t),
        |j AS (SELECT doc_id, cc FROM tok JOIN cnt USING (t))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(cc) AS BIGINT) AS familiarity_sum,
        |  CAST(sum(cc) AS DOUBLE) / count(*) AS familiarity,
        |  CAST(sum(cc) AS DOUBLE) / count(*) < 225 AS flagged
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q34_minhash_lsh"   -> jaccardOracle(4, 5, "0.8"),
    // pair join = pigeonhole restatement (hamming <= 3 over 60 bits
    // forces >= 1 of 4 disjoint 15-bit chunks equal — lossless), the
    // same blocked equi-join the engine's 100 TB path runs
    "q35_simhash" ->
      s"""WITH h AS (SELECT doc_id,
         |  list_transform(list_distinct(string_split(text, ' ')),
         |    t -> CAST(list_reduce(
         |           list_prepend(CAST(0 AS BIGINT),
         |             [CAST(CASE WHEN c BETWEEN '0' AND '9' THEN ascii(c) - 48
         |                        ELSE ascii(c) - 87 END AS BIGINT)
         |              for c in string_split_regex(substring(md5(t), 1, 15), '')]),
         |           (a, b) -> a * 16 + b) AS BIGINT)) hs
         |  FROM documents),
         |bs AS (SELECT doc_id,
         |  [list_sum([CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END for h in hs])
         |   for j in range(0, 60)] AS bitsum FROM h),
         |sh AS (SELECT doc_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    [CAST(CASE WHEN bitsum[j+1] > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END AS BIGINT)
         |     for j in range(0, 60)]), (a, b) -> a + b) AS simhash
         |  FROM bs),
         |ch AS (SELECT doc_id,
         |  unnest([(simhash >> 0) & 32767, (simhash >> 15) & 32767,
         |          (simhash >> 30) & 32767, (simhash >> 45) & 32767]) AS cv,
         |  unnest([0, 1, 2, 3]) AS ci FROM sh),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM ch a JOIN ch b
         |    ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id)
         |SELECT cand.doc_a, cand.doc_b,
         |  CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
         |FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a
         |          JOIN sh sb ON sb.doc_id = cand.doc_b
         |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q38_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS content_md5,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ' '),
        |      w -> CAST(length(w)*17 + ascii(substring(w, 1, 1)) AS BIGINT))),
        |    (acc, v) -> (acc * 31 + v) % 1000000007) AS rolling_hash
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
