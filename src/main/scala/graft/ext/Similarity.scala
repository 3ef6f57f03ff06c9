package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Mat.MatOps

/** Similarity search over an embedding column (array<float>) — the
  * north-star ANN extension.
  *
  *  - `bruteForceTopK` is the exact baseline: broadcast the (small)
  *    query set against the corpus, one pass, no shuffle of the
  *    corpus. At 100 TB the corpus side stays partition-parallel and
  *    the top-k reduction is a partial aggregate per partition.
  *  - `lshTopK` is the scale path: random-hyperplane LSH buckets the
  *    corpus by sign-bit signature; queries probe their own bucket
  *    plus all hamming-1 neighbors (multiprobe), then rerank exactly.
  *    Cuts scored candidates by ~2^bits/ (1+bits) while keeping
  *    recall high on angularly-clustered data (Charikar '02).
  *
  * All arithmetic is double-accumulated in list order so results are
  * reproducible and comparable against the DuckDB oracle bit-for-bit.
  *
  * INPUT CONTRACT: embeddings must be non-zero vectors. A zero-norm
  * embedding has no direction — cosine against it is undefined, and
  * under Spark's default ANSI mode the norm division fails LOUDLY
  * (DIVIDE_BY_ZERO aborts the job) rather than propagating NaN.
  * Screen padding/empty-doc vectors upstream (`l2norm(...) > 0`, the
  * filter [[graft.ext.Contamination.semanticScreen]] applies
  * internally) before running the cosine family over raw corpora.
  */
object Similarity {

  /** Sequential-order double dot product of two float arrays — a
    * native codegen expression ([[graft.functions.DotProductF]]);
    * bit-identical to `aggregate(zip_with(a, b, (x,y) => x*y), 0D, +)`
    * (same left-to-right double accumulation) at a fraction of the
    * per-element cost.
    */
  def dot(a: Column, b: Column): Column = graft.functions.native.dotF(a, b)

  def l2norm(a: Column): Column = sqrt(graft.functions.native.dotF(a, a))

  /** Null-safe cosine: NULL when either vector has zero norm (no
    * direction, no cosine) instead of an ANSI DIVIDE_BY_ZERO abort —
    * the family-level safe entry point. The specialized ops
    * (topK/near-dup/dedup) divide inline for codegen-fused plans and
    * carry the non-zero input contract documented above instead.
    */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2norm(a) * l2norm(b)
    when(denom > 0, dot(a, b) / denom)
  }

  /** Exact top-k neighbors for each query vector. Queries are
    * broadcast (small side); corpus is never shuffled until the final
    * per-query top-k, which ranks only |queries|·|corpus| scored rows
    * pre-filtered to k by the window.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int = 10): DataFrame = {
    // norms precomputed per side — one pass each, not one per pair
    val q = broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      l2norm(col("embedding")).as("qn")))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      l2norm(col("embedding")).as("cn"))
    val scored = q.crossJoin(c)
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Reciprocal-rank fusion (X244, r13) — the standard hybrid-retrieval
    * combiner (Cormack et al. '09): given N per-query rankings (lexical
    * BM25, semantic cosine, ...), each (query_id, doc_id, rank), score
    * every candidate `rrf = Σ_lists 1/(c + rank)` and re-rank. Rank
    * positions, not scores, so incomparable scoring scales fuse
    * without calibration; c=60 is the published default damping. The
    * plan is a union of the (query×k)-grain lists, one aggregate at
    * candidate grain and one windowed top-k — the corpus itself never
    * enters; at 100 TB the inputs are the retrievers' outputs, which
    * are query-bounded by construction. `n_lists` (how many rankings
    * proposed the doc) rides along — the consensus signal hybrid
    * evaluation wants. Arithmetic: one IEEE division per (list, doc)
    * and a ≤N-term sum, 9-dp rounded on both sides (two-term sums are
    * order-exact; N>2 fusions carry partial-order noise the round
    * absorbs).
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: no rankings given")
    require(k >= 1, s"k must be >= 1, got $k")
    require(c >= 0, s"c must be >= 0, got $c")
    val u = rankings
      .map(_.select(col("query_id").cast("long").as("query_id"),
        col("doc_id").cast("long").as("doc_id"),
        col("rank").cast("long").as("rank")))
      .reduce(_ unionAll _)
      // loud-refusal discipline (r13 ADVICE): a NULL key silently
      // drops from the fusion and a rank < 1 skews every score it
      // touches — rank = −c in particular divides by zero deep in the
      // plan, far from the caller. Rankings are rank-contract inputs
      // (row_number output starts at 1), so a violation is a caller
      // bug to surface, not data to massage.
      .filter(when(col("query_id").isNull || col("doc_id").isNull ||
          col("rank").isNull || col("rank") < 1,
        raise_error(concat(lit("rrfFuse: invalid ranking row (query_id="),
          coalesce(col("query_id").cast("string"), lit("NULL")),
          lit(", doc_id="), coalesce(col("doc_id").cast("string"), lit("NULL")),
          lit(", rank="), coalesce(col("rank").cast("string"), lit("NULL")),
          lit(") - ranks must be non-null and >= 1"))))
        .otherwise(lit(true)))
    val w = Window.partitionBy("query_id").orderBy(desc("rrf"), asc("doc_id"))
    u.groupBy("query_id", "doc_id")
      .agg(round(sum(lit(1.0) / (lit(c.toLong) + col("rank"))), 9).as("rrf"),
        count(lit(1)).as("n_lists"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "rrf", "n_lists")
  }

  /** Deterministic random hyperplanes: `bits` unit-free Gaussian
    * vectors of dimension `dim`, seeded — identical across runs and
    * executors (generated on the driver, shipped as literals).
    */
  private def hyperplanes(bits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit signature of an embedding under the hyperplanes —
    * one codegen'd pass over all planes
    * ([[graft.functions.HyperplaneSigExpr]]).
    */
  private def signature(v: Column, planes: Array[Array[Double]]): Column =
    graft.functions.native.hyperplaneSig(v, planes)

  /** Approximate top-k via multi-table LSH + exact rerank. One hash
    * table has vanishing recall for moderate-angle neighbors, so the
    * standard construction is L independent tables of `bits`
    * hyperplanes each: a pair is a candidate if it collides in ANY
    * table (own bucket or a hamming-1 multiprobe bucket); candidates
    * are deduped, then scored exactly. With 8×8-bit tables this scores
    * ~25% of the corpus per query on isotropic random vectors (≈4×
    * pruning) at recall ~0.75 — on real clustered embeddings the
    * bucket skew works in our favor and pruning is far stronger.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int = 10,
              bits: Int = 8, tables: Int = 8, dim: Int = 64): DataFrame = {
    val allPlanes = (0 until tables).map(t => hyperplanes(bits, dim, seed = 42L + t)).toArray
    // corpus row → one packed (table<<32 | bucket) key per table
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      explode(graft.functions.native.lshKeys(col("embedding"), allPlanes, multiprobe = false)).as("tb"))
    // query row → own bucket + hamming-1 probes, per table
    val probes = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      l2norm(col("embedding")).as("qn"),
      explode(graft.functions.native.lshKeys(col("embedding"), allPlanes, multiprobe = true)).as("tb"))
    val candidates = broadcast(probes).join(c, Seq("tb"))
    // score first (cheap native dot), dedupe after — the dedup shuffle
    // then moves 3 scalar columns instead of two 64-float arrays
    val scored = candidates.select(col("query_id"), col("neighbor_id"),
      (dot(col("qv"), col("cv")) / (col("qn") * l2norm(col("cv")))).as("sim"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** md5-derived ±1 hyperplanes — the engine-portable plane family for
    * [[lshTopKPortable]]: component (t, p, i) is +1 when the first hex
    * digit of md5("lsh:t:p:i") is even, −1 otherwise. Rademacher (±1)
    * entries are a standard random-projection family (sign-LSH only
    * needs symmetric zero-mean directions), and every entry is
    * reproducible from the MD5 standard alone — no RNG stream, no
    * library, any engine derives the identical planes.
    */
  private[ext] def md5SignPlanes(tables: Int, bits: Int, dim: Int): Array[Array[Array[Double]]] =
    Array.tabulate(tables, bits, dim) { (t, p, i) =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"lsh:$t:$p:$i".getBytes("UTF-8"))
      if (((d(0) >> 4) & 1) == 0) 1.0 else -1.0
    }

  /** [[lshTopK]] with [[md5SignPlanes]] — the ENGINE-PORTABLE oracle
    * twin of the hyperplane-LSH family (X230, the X163/X220 move, and
    * the ANN family's last unpinned probe logic after the IVF twin):
    * the production path draws Gaussian planes from a seeded RNG
    * (rows-only forever — no other engine replays scala.util.Random),
    * but with md5-derived ±1 planes EVERY stage recomposes in ANSI-ish
    * SQL: the signature bit is a sign of a sequential float64 dot
    * product (Spark's kernel ≡ DuckDB's list_dot_product, the
    * q_topk_cosine bit-exactness precedent) against planes any engine
    * rebuilds from MD5, the bucket key is Σ bit·2^p, multiprobe is
    * bucket XOR 2^p, and the rerank is the exact-cosine contract —
    * so candidate generation, probing, dedup and ranking all
    * hash-match cross-engine, leaving nothing in the LSH decision
    * path unverified. Same plan shape as the production path: one
    * signature pass per side, bucket equi-join (broadcast query
    * side), scalar-column dedup, windowed top-k.
    */
  def lshTopKPortable(queries: DataFrame, corpus: DataFrame, k: Int = 10,
                      bits: Int = 8, tables: Int = 4, dim: Int = 64): DataFrame = {
    val allPlanes = md5SignPlanes(tables, bits, dim)
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      explode(graft.functions.native.lshKeys(col("embedding"), allPlanes, multiprobe = false)).as("tb"))
    val probes = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      l2norm(col("embedding")).as("qn"),
      explode(graft.functions.native.lshKeys(col("embedding"), allPlanes, multiprobe = true)).as("tb"))
    val candidates = broadcast(probes).join(c, Seq("tb"))
    val scored = candidates.select(col("query_id"), col("neighbor_id"),
      (dot(col("qv"), col("cv")) / (col("qn") * l2norm(col("cv")))).as("sim"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Approximate top-k via IVF (inverted-file) coarse quantization:
    * corpus vectors are bucketed by nearest centroid; each query
    * probes its `nprobe` nearest cells and reranks exactly. Scored
    * work drops to ~nprobe/nlist of the corpus per query. Centroids:
    * deterministic seeds (lowest vec_ids) + one Lloyd refinement pass
    * over a deterministic ~`fitSample × nlist`-row sample (hash-mod on
    * vec_id, so the fit is partitioning-invariant). The refinement
    * shuffle is sample × dim cells, never corpus × dim; the full
    * corpus is only ever scanned once, for assignment.
    */
  /** Fit the IVF coarse quantizer: `nlist` unit-normalized centroids
    * from deterministic seeds (lowest vec_ids) + one Lloyd refinement
    * pass over a bounded deterministic ~`fitSample × nlist`-row sample
    * (hash-mod on vec_id, so the fit is partitioning-invariant). The
    * refinement shuffle is sample × dim cells, never corpus × dim.
    * Shared by [[ivfTopK]] and [[pqTopK]] (the IVF-PQ composition).
    */
  private[ext] def coarseCentroids(corpus: DataFrame, nlist: Int, fitSample: Int,
                                   totalHint: Long = -1L): Array[Array[Double]] = {
    def normalize(vs: Array[Array[Double]]): Array[Array[Double]] =
      vs.map { v =>
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n == 0) v else v.map(_ / n)
      }
    def collectCents(df: DataFrame): Array[Array[Double]] =
      df.collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val seeds = normalize(collectCents(
      corpus.select(col("vec_id"), col("embedding")).orderBy("vec_id").limit(nlist)))
    // content-hash downsample to ~fitSample×nlist rows for the fit —
    // one cheap count (parquet metadata) sizes the modulus; callers
    // that already counted (pqTopK's codebook fit) pass it as the hint
    val total = if (totalHint >= 0) totalHint else corpus.count()
    val every = math.max(1L, total / (fitSample.toLong * nlist))
    val fit = corpus.filter(pmod(hash(col("vec_id")), lit(every)) === 0)
    // one refinement pass: mean of assigned vectors per (cell, dim)
    val probe1 = graft.functions.native.centroidProbes(col("embedding"), seeds, 1)
    val means = fit
      .select(element_at(probe1, 1).as("cell"), posexplode(col("embedding")))
      .groupBy("cell", "pos").agg(avg("col").as("m"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    val refined = seeds.clone()
    means.groupBy(_._1).foreach { case (cell, xs) =>
      val v = new Array[Double](xs.map(_._2).max + 1)
      xs.foreach { case (_, pos, m) => v(pos) = m }
      refined(cell) = v
    }
    normalize(refined)
  }

  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int = 10,
              nlist: Int = 16, nprobe: Int = 4, fitSample: Int = 50): DataFrame = {
    val cents = coarseCentroids(corpus, nlist, fitSample)
    val assign1 = graft.functions.native.centroidProbes(col("embedding"), cents, 1)
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      element_at(assign1, 1).as("cell"))
    val probes = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      l2norm(col("embedding")).as("qn"),
      explode(graft.functions.native.centroidProbes(col("embedding"), cents, nprobe)).as("cell"))
    val scored = broadcast(probes).join(c, Seq("cell"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * l2norm(col("cv")))).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** ORACLE-ELIGIBLE twin of [[ivfTopK]] (r12, the X163 move applied
    * to ANN): the same probe → exact-cosine rerank → per-query top-k
    * decision over a FIXED, ANSI-expressible coarse assignment —
    * corpus cell = `vec_id mod nlist`, query probes = the `nprobe`
    * cells starting at the query's own bucket — instead of the fitted
    * centroids. DuckDB recomposes probe-cell selection, the rerank
    * cosine and the ranking, and hash-matches the full top-k, pinning
    * the sweep/rerank logic cross-engine; the k-means fit stays the
    * ANN family's only rows-only piece. Not a semantic probe choice
    * (buckets are arbitrary) — a verification harness with the exact
    * production plan shape: explode probes, equi-join on cell,
    * window top-k.
    */
  def ivfTopKBucketed(queries: DataFrame, corpus: DataFrame, k: Int = 10,
                      nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      pmod(col("vec_id"), lit(nlist)).cast("int").as("cell"))
    val probes = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        l2norm(col("embedding")).as("qn"),
        explode(sequence(lit(0), lit(nprobe - 1))).as("i"))
      .select(col("query_id"), col("qv"), col("qn"),
        pmod(col("query_id") + col("i"), lit(nlist)).cast("int").as("cell"))
    val scored = broadcast(probes).join(c, Seq("cell"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * l2norm(col("cv")))).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** md5-derived ±1 PQ codebooks: codeword (j, c) of subspace j has
    * component i = parity of the first hex digit of md5("pq:j:c:i") —
    * the [[md5SignPlanes]] rule on the PQ family. ±1 codewords have
    * CONSTANT norm (‖c‖² = subDim), so nearest-codeword assignment
    * reduces to an argmax of one dot product — the whole encode
    * decision is a pinned-order float comparison any engine replays.
    */
  private[ext] def md5PqCodebooks(m: Int, codes: Int, subDim: Int): Array[Array[Array[Double]]] =
    Array.tabulate(m, codes, subDim) { (j, c, i) =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"pq:$j:$c:$i".getBytes("UTF-8"))
      if (((d(0) >> 4) & 1) == 0) 1.0 else -1.0
    }

  /** [[pqTopK]]'s ENGINE-PORTABLE oracle twin (X235 — with this, every
    * approximate family's decision path has a cross-engine pin; the
    * only arithmetic left unverified by oracle anywhere is libm
    * deflate): the production IVF-PQ fits per-subspace codebooks by
    * k-means (rows-only), but with [[md5PqCodebooks]] ±1 codewords and
    * the X220 fixed mod-nlist cells, EVERY stage recomposes in SQL:
    *
    *  - encode: per subspace, the codeword maximizing one sequential
    *    dot (constant ‖c‖² makes argmax-dot ≡ nearest; ties on the
    *    code index; the sort key is `0.0 − dot`, which maps −0.0 to
    *    +0.0 so the two zero encodings can't order differently across
    *    engines);
    *  - ADC: the asymmetric distance sum Σⱼ qⱼ·c_{code_j} IS the dot
    *    of the query with the PQ-DECODED vector (concatenated chosen
    *    codewords) — evaluated as ONE sequential 64-dim dot, so the
    *    m-term sum has a pinned order instead of an aggregate's
    *    arbitrary one;
    *  - shortlist by (ADC desc, id), exact-cosine rerank of the
    *    shortlist, top-k — the production plan shape exactly.
    *
    * Output carries both the exact sim and the ADC score, pinning the
    * sweep arithmetic directly, not just through the shortlist cut.
    */
  def pqTopKPortable(queries: DataFrame, corpus: DataFrame, k: Int = 10,
                     nlist: Int = 16, nprobe: Int = 4, m: Int = 8,
                     codes: Int = 16, dim: Int = 64,
                     shortlist: Int = 50): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val subDim = dim / m
    val cb = md5PqCodebooks(m, codes, subDim)
    // PQ-decode in the encode pass: encode + decode as two kernel
    // calls (r16 — this started as an m × codes struct-array_sort tree
    // with a codeword array INSIDE every struct; the codegen of that
    // tree dwarfed the arithmetic at every scale): pqEncodeDot is the
    // identical argmax-dot/tie decision, pqDecode copies the chosen
    // codebook doubles verbatim — the decoded vector, and every score
    // downstream of it, is bit-identical to the expression form (the
    // q_ann_pq_md5 oracle pins it).
    def decoded(v: Column): Column = graft.functions.native.pqDecode(
      graft.functions.native.pqEncodeDot(v, cb), cb)
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("cv"),
      pmod(col("vec_id"), lit(nlist)).cast("int").as("cell"))
      .withColumn("dec", decoded(col("cv")))
    val probes = queries.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"),
        l2norm(col("embedding")).as("qn"),
        explode(sequence(lit(0), lit(nprobe - 1))).as("i"))
      .select(col("query_id"), col("qv"), col("qn"),
        pmod(col("query_id") + col("i"), lit(nlist)).cast("int").as("cell"))
    val wS = Window.partitionBy("query_id").orderBy(desc("adc"), asc("neighbor_id"))
    val short = broadcast(probes).join(c, Seq("cell"))
      .select(col("query_id"), col("qv"), col("qn"), col("neighbor_id"), col("cv"),
        dot(col("qv"), col("dec")).as("adc"))
      .withColumn("__srn", row_number().over(wS))
      .filter(col("__srn") <= shortlist)
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("neighbor_id"))
    short.select(col("query_id"), col("neighbor_id"), col("adc"),
        (dot(col("qv"), col("cv")) / (col("qn") * l2norm(col("cv")))).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim", "adc")
  }

  /** All near-duplicate embedding pairs with cosine ≥ threshold
    * (a < b), EXACT, via a blocked self-join.
    *
    * An exact threshold join at a low threshold (0.4 ≈ 3σ above the
    * random-pair cosine on 64-dim data) is intrinsically O(n²)
    * comparisons — no LSH family separates pairs at the threshold from
    * the background with recall 1 (measured on this corpus: qualifying
    * sims start at 0.401). What CAN scale is the *distribution*: rows
    * are hashed into `blocks` groups and each of the B(B+1)/2 block
    * pairs becomes one equi-join key, so every unordered row pair
    * meets exactly once, each task holds ~2n/B rows, and nothing is
    * broadcast or nested-loop joined. Replication factor is (B+1)/2
    * per side — pick B ≈ √parallelism at scale.
    *
    * For high thresholds (≥0.7) use [[embeddingNearDupsApprox]] — the
    * banded-signature candidate pass prunes instead of replicating.
    */
  def embeddingNearDups(embeddings: DataFrame, threshold: Double, blocks: Int = 16): DataFrame = {
    val B = blocks
    // n feeds both join sides — materialize once so the scan + norm
    // kernel doesn't run twice (cluster swap: persist(DISK_ONLY))
    val n = embeddings.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nm"), pmod(hash(col("vec_id")), lit(B)).as("blk"))
      // unconditional (not Mat.matBoundary): the l2norm kernel scan
      // feeds BOTH join sides and is arithmetic-heavy per input byte,
      // the Mat doc's don't-gate case (A/B sf0.1: 0.77 s gated vs
      // 0.65 s forced)
      .localCheckpoint(true)
    // block pair (i, j), i <= j, packed as i*B + j. A row in block i
    // goes left for keys (i, i..B-1) and right for keys (0..j, j): a
    // pair with blocks (x, y), x < y, meets once (left from x, right
    // from y); same-block pairs meet twice and the a0 < b0 half-filter
    // keeps one.
    val left = n.select(col("vec_id").as("a0"), col("embedding").as("va"),
      col("nm").as("na"), col("blk").as("ba"),
      explode(sequence(col("blk") * B + col("blk"), col("blk") * B + lit(B - 1))).as("pk"))
    val right = n.select(col("vec_id").as("b0"), col("embedding").as("vb"),
      col("nm").as("nb"), col("blk").as("bb"),
      explode(sequence(col("blk"), col("blk") * B + col("blk"), lit(B))).as("pk"))
    left.hint("shuffle_hash").join(right, Seq("pk"))
      .filter(col("a0") =!= col("b0") && (col("ba") =!= col("bb") || col("a0") < col("b0")))
      .select(least(col("a0"), col("b0")).as("a"), greatest(col("a0"), col("b0")).as("b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Per-vector int8 scalar quantization: scale = 127 / max|xᵢ|, then
    * qᵢ = round(xᵢ·scale) ∈ [−127, 127] — the standard symmetric
    * scheme vector stores use to cut embedding storage 4× before ANN
    * indexing. Pure expressions, zero shuffle. Emits the quantized
    * array plus audit scalars (scale, Σq, saturation count); the
    * reconstruction-error bound is property-tested (|xᵢ − qᵢ/scale| ≤
    * 1/(2·scale) by construction).
    */
  /** PCA projection of the embedding column to `k` dimensions —
    * the standard pre-ANN reduction (project, then IVF/LSH the short
    * vectors). Distributed shape: the dim×dim Gramian is one
    * `treeAggregate` over the corpus (mergeable, constant driver
    * memory for embedding dims in the thousands), the eigendecomposition
    * is driver-local on that dim×dim matrix (Spark MLlib
    * `RowMatrix.computePrincipalComponents`), and the projection back
    * over the corpus is k codegen dot products per row against the
    * BROADCAST component columns — the corpus is never shuffled.
    *
    * Eigenvector SIGN is basis-ambiguous (run-to-run flips are
    * legitimate), so downstream consumers must treat projected space
    * as internal — distances/dots are invariant, coordinates are not.
    */
  def pcaProject(embeddings: DataFrame, k: Int,
                 vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val rows = embeddings.select(col(vecCol)).rdd
      .map(r => OldVectors.dense(r.getSeq[Float](0).map(_.toDouble).toArray))
    val pc = new RowMatrix(rows).computePrincipalComponents(k) // dim × k
    val dim = pc.numRows
    val pcCols: Seq[Column] = (0 until k).map { j =>
      val colJ = Array.tabulate(dim)(i => pc(i, j))
      graft.functions.native.dotF(col(vecCol), lit(colJ))
    }
    embeddings.select(col("vec_id"), array(pcCols: _*).as("proj"))
  }

  /** K-means clustering of the embedding corpus (Spark MLlib, fixed
    * seed): (vec_id, cluster). The iterative Lloyd refinement is
    * mergeable per-partition partial sums — the same shape as
    * [[ivfTopK]]'s single fit pass, run to convergence; cluster ids
    * are stable within a run but arbitrary across runs (standard
    * k-means contract). maxIter bounds the cost at scale.
    */
  def kmeansClusters(embeddings: DataFrame, k: Int, maxIter: Int = 10,
                     seed: Long = 42L, vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feat = embeddings.select(col("vec_id"),
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val model = new KMeans().setK(k).setMaxIter(maxIter).setSeed(seed)
      .setFeaturesCol("features").setPredictionCol("cluster")
      .fit(feat)
    model.transform(feat).select(col("vec_id"), col("cluster"))
  }

  /** BOUNDED Lloyd k-means — the ENGINE-PORTABLE oracle twin of the
    * clustering family (X232, the q_bpe_learn/X222 move applied to the
    * Lloyd loop, closing the "k-means fit is the only rows-only piece"
    * gap X220 left): [[kmeansClusters]]'s ML fit is rows-only forever
    * (random init + treeAggregate float order), but k-UNROLLED Lloyd
    * over a deterministic seed recomposes stage by stage in SQL:
    *
    *  - init: the k vectors with the smallest md5 priority of their id
    *    (the X214 coordinated rule — no RNG, no arithmetic, any engine
    *    picks the same seeds), cluster index = priority order;
    *  - assign: argmin squared distance via the monotone surrogate
    *    `c·c − 2·(v·c)` — two sequential float64 dot products (the
    *    q_topk_cosine bit-exactness contract), one multiply, one
    *    subtract; ties break on the cluster index;
    *  - update: per-(cluster, dim) means as ORDERED cumulative sums
    *    whose last element max_by takes (the X217 q_seasonal ordered-
    *    mean discipline — the one float aggregate here, and it
    *    replays addition-for-addition); empty clusters keep their
    *    center (the textbook convention, deterministically).
    *
    * `iters` assignment rounds with updates between them; the output
    * is round `iters`'s assignment — pure integers, so the oracle
    * hash-matches even though its floats matched anyway. This pins
    * the ENTIRE Lloyd decision loop cross-engine; the production path
    * stays [[kmeansClusters]] (one mergeable pass per iteration, no
    * per-dim explode). Scale note: the twin's update explodes to
    * (rows × dim) grain for the ordered sums — verification-grade by
    * design, like every md5 twin in this family.
    */
  def kmeansBounded(embeddings: DataFrame, k: Int, iters: Int,
                    vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val vecs = embeddings
      .select(col("vec_id"), col(vecCol).cast("array<double>").as("v"))
      .matBoundary // feeds every assignment round and the seed pick
    val wInit = Window.orderBy(col("__pri"), col("vec_id"))
    var centers = vecs
      .withColumn("__pri", md5(col("vec_id").cast("string")))
      .orderBy(col("__pri"), col("vec_id")).limit(k)
      .withColumn("cluster", (row_number().over(wInit) - 1).cast("long"))
      .select(col("cluster"), col("v").as("c"))
      .localCheckpoint(true) // k rows; cuts the global-window lineage
    def assign(cs: DataFrame): DataFrame = {
      val score = dot(col("c"), col("c")) - lit(2.0) * dot(col("v"), col("c"))
      val w = Window.partitionBy("vec_id").orderBy(score.asc, col("cluster").asc)
      vecs.crossJoin(broadcast(cs))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("vec_id"), col("v"), col("cluster"))
    }
    for (_ <- 1 until iters) {
      val a = assign(centers)
      val ex = a.select(col("cluster"), col("vec_id"), posexplode(col("v")))
        .withColumnRenamed("col", "x")
      val wc = Window.partitionBy("cluster", "pos").orderBy("vec_id")
      val means = ex
        .withColumn("__cs", sum(col("x")).over(
          wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("__rn", row_number().over(wc))
        .groupBy(col("cluster"), col("pos"))
        .agg((max_by(col("__cs"), col("__rn")) / count(lit(1))).as("m"))
        .groupBy(col("cluster"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s("m")).as("c"))
      val kept = centers.join(means.select("cluster"), Seq("cluster"), "left_anti")
      centers = means.unionByName(kept).localCheckpoint(true)
    }
    assign(centers).select(col("vec_id"), col("cluster"))
  }

  /** POWER-ITERATION top principal direction — the ENGINE-PORTABLE
    * oracle twin of the PCA family (X233, completing the fit-loop
    * pins: after X222/X232 every learned/iterative operator family has
    * a cross-engine construction pin except libm deflate): X98's SVD
    * fit is rows-only forever (LAPACK internals + eigenvector sign
    * ambiguity), but k-unrolled power iteration over the CENTERED
    * Gramian recomposes term-by-term:
    *
    *  - per-dim means and the Gramian's Σ cᵢcⱼ sums evaluate as
    *    ORDERED cumulative sums by vec_id (the X217 discipline — the
    *    only data-grain float aggregates, replayed addition-for-
    *    addition);
    *  - each iteration is d sequential dot products (the q_topk_cosine
    *    contract) + one sqrt-normalize — the driver-side replay below
    *    folds in EXACTLY list_dot_product's index order, so a 64×64
    *    matrix-vector product matches DuckDB bit-for-bit;
    *  - the all-ones start vector and the per-step normalization make
    *    the sign and scale deterministic (no eigen-sign ambiguity to
    *    mod out — the usual reason PCA can't be oracled).
    *
    * Output: (pos, loading) — the direction after `iters` iterations,
    * UNROUNDED (every operation is pinned-order IEEE). Convergence to
    * the true top component is the standard (λ₂/λ₁)^iters rate; the
    * oracle pins the LOOP, not an eigensolver. The Gramian collect is
    * d² doubles — bounded by design (the codebook/centroid-fit
    * precedent); the data-grain work is one (rows × d²) ordered-sum
    * pass, verification-grade like every twin in this family
    * (production PCA stays X98's one treeAggregate).
    */
  def pcaPowerTop(embeddings: DataFrame, iters: Int = 5,
                  vecCol: String = "embedding"): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = embeddings.sparkSession
    val ex = embeddings
      .select(col("vec_id"), posexplode(col(vecCol).cast("array<double>")))
      .withColumnRenamed("col", "x")
      .matBoundary // feeds the mean pass and the pair pass
    val wm = Window.partitionBy("pos").orderBy("vec_id")
    val means = ex
      .withColumn("__cs", sum(col("x")).over(
        wm.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__rn", row_number().over(wm))
      .groupBy("pos")
      .agg((max_by(col("__cs"), col("__rn")) / count(lit(1))).as("m"))
    val centered = ex.join(broadcast(means), Seq("pos"))
      .select(col("vec_id"), col("pos"), (col("x") - col("m")).as("c"))
      .matBoundary // both sides of the pair self-join
    val wg = Window.partitionBy("i", "j").orderBy("vec_id")
    // r17 (guide §2.5/§2.6 stragglers): the d² pair expansion used to
    // run on the SCAN's task set — a single-row-group embeddings file
    // is one task, so the (rows × d²) product generation and the whole
    // (i,j) exchange's map side serialized on one core (QueryProf: a
    // lone 1-task job carrying 2.4-3.5 s of the key's 4 s). Fanning
    // the probe side by vec_id BEFORE the join spreads the expansion,
    // and the keyed REPARTITION_BY_NUM before the window keeps AQE
    // from coalescing the 8M-row window stage back to one partition.
    // Fold bits are untouched: every (i,j) group still lands whole in
    // one partition and the window still adds in vec_id order —
    // pinned bit-identical by SimilaritySpec, and max_by on vec_id
    // (unique per group) replaces the row_number twin window function.
    val dp = spark.sparkContext.defaultParallelism
    val gRows = centered.repartition(dp, col("vec_id")).as("a")
      .join(centered.as("b"), col("a.vec_id") === col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("a.pos").as("i"),
        col("b.pos").as("j"), (col("a.c") * col("b.c")).as("p"))
      .repartition(dp, col("i"), col("j"))
      .withColumn("__cs", sum(col("p")).over(
        wg.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("i", "j")
      .agg(max_by(col("__cs"), col("vec_id")).as("g"))
      .collect()
    val d = gRows.map(_.getInt(0)).max + 1
    val g = Array.ofDim[Double](d, d)
    gRows.foreach(r => g(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    // the iteration replay: j-ascending folds ≡ list_dot_product
    var x = Array.fill(d)(1.0)
    for (_ <- 1 to iters) {
      val y = Array.tabulate(d) { i =>
        (0 until d).foldLeft(0.0)((acc, j) => acc + g(i)(j) * x(j))
      }
      val nrm = math.sqrt((0 until d).foldLeft(0.0)((acc, i) => acc + y(i) * y(i)))
      x = y.map(_ / nrm)
    }
    import spark.implicits._
    x.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
      .toDF("pos", "loading")
  }

  def quantizeInt8(embeddings: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol)
    val amax = array_max(transform(v, x => abs(x.cast("double"))))
    val scale = when(amax > 0, lit(127.0) / amax).otherwise(lit(1.0))
    embeddings
      .withColumn("scale", scale)
      .withColumn("q", transform(v, x => round(x.cast("double") * col("scale")).cast("int")))
      .withColumn("sum_q", aggregate(col("q"), lit(0L), (acc, x) => acc + x.cast("long")))
      .withColumn("n_sat", size(filter(col("q"), x => abs(x) === 127)).cast("long"))
  }

  /** Per-group embedding centroids via [[graft.functions.VectorMeanAgg]]
    * — a typed-imperative aggregate whose buffer is one `double[dim+1]`
    * per group, so centroids cost ONE shuffle of vector-grain rows.
    * The `posexplode` alternative multiplies the shuffled row count by
    * `dim` (64–4096×) for the same answer; at 100 TB that is the
    * difference between a broadcast-sized result and a re-shuffle of
    * the corpus. Used for domain centroids, drift monitoring, and IVF
    * seeding.
    */
  def groupCentroids(embeddings: DataFrame, dim: Int,
                     groupCol: String = "label",
                     vecCol: String = "embedding"): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    // n_vecs counts ALL group rows; n_valid counts exactly the rows the
    // aggregate folds into the centroid (non-null, right-dim, no null
    // elements — same rules as VectorMeanAgg.update), so the centroid's
    // true denominator is visible and a group full of junk vectors can't
    // masquerade as a well-supported centroid in drift monitoring
    val valid = col(vecCol).isNotNull && size(col(vecCol)) === dim &&
      !exists(col(vecCol), x => x.isNull)
    embeddings.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_vecs"),
        count(when(valid, lit(1))).as("n_valid"),
        graft.functions.native.vectorMean(col(vecCol), dim).as("centroid"))
  }

  /** Pairwise cosine similarity between group centroids — the domain/
    * source similarity matrix (which corpora are embedding-space
    * neighbors) driving mixture and dedup-scope decisions.
    *
    * 100 TB shape: all vector-grain work is [[groupCentroids]]'s ONE
    * mergeable pass; the pair join runs at |groups|² grain (a handful
    * of rows), so the self-join is a broadcast of a tiny frame, never
    * a vector-grain shuffle. Centroid means are 6-dp rounded BEFORE
    * the dot product so both engines fold identical inputs (same
    * determinism discipline as groupStats), and the cosine is 6-dp
    * rounded after.
    */
  def centroidSimilarity(embeddings: DataFrame, dim: Int = 64): DataFrame = {
    val c = groupCentroids(embeddings, dim)
      .select(col("label"), transform(col("centroid"), x => round(x, 6)).as("c"))
      .withColumn("nm", sqrt(aggregate(col("c"), lit(0.0), (a, x) => a + x * x)))
    c.as("a").join(broadcast(c.as("b")), col("a.label") < col("b.label"))
      .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
        round(aggregate(zip_with(col("a.c"), col("b.c"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x) / (col("a.nm") * col("b.nm")), 6).as("cosine"))
  }

  /** Approximate near-duplicate pairs via banded sign-bit signatures +
    * exact verify — the scale path when the threshold is high enough
    * for LSH to separate (cos ≥ ~0.7). The 64-bit hyperplane signature
    * is split into `bands`; any equal band makes the pair a candidate
    * (pigeonhole: every pair within hamming distance `bands − 1` of
    * each other's signature is guaranteed found), candidates are then
    * scored exactly and filtered at the true threshold — so precision
    * is 1.0 and only recall is approximate. Candidate volume is an
    * equi-join on (band, value): Σ bucket² work, not n².
    */
  /** Approximate top-k via product quantization (Jégou et al. '11,
    * "Product Quantization for Nearest Neighbor Search"): the corpus
    * vector is replaced by `m` centroid indices (one per dim/m-wide
    * subspace), queries precompute an m×kc lookup table once, and each
    * query×doc score is `m` array reads (ADC) instead of a dim-wide
    * dot — the memory-bound scale path where even IVF's probed cells
    * don't fit raw vectors in RAM (codes are m ints vs dim floats:
    * 16× smaller at m=8/dim=64, 64–256× in production dims).
    *
    * Distributed shape (IVF-PQ): codebooks AND the IVF coarse
    * quantizer are fit DRIVER-LOCAL over bounded deterministic samples
    * (hash-mod on vec_id → partitioning-invariant; Lloyd per subspace,
    * seeded by the sample's first kc subvectors), shipped as one
    * reference object. Encode + cell assignment is one corpus pass
    * ([[graft.functions.PqEncodeExpr]]); the ADC sweep is an equi-join
    * on probed cell — it scans ~nprobe/nlist of the (id, norm, code)
    * rows, and the raw embedding column never enters it; the
    * `rerank`-deep shortlist is broadcast back and ONLY those rows are
    * rescored exactly, with the corpus side probed in place (no corpus
    * shuffle anywhere). Precision of the final ordering is exact;
    * recall is bounded by the probe set and shortlist (recall unit:
    * SimilaritySpec).
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int = 10,
             m: Int = 8, kc: Int = 16, fitSample: Int = 50,
             rerank: Int = 4, nlist: Int = 16, nprobe: Int = 8): DataFrame = {
    // bounded deterministic fit sample, driver-local Lloyd per subspace
    val total = corpus.count()
    val every = math.max(1L, total / (fitSample.toLong * kc))
    val sample = corpus.filter(pmod(hash(col("vec_id")), lit(every)) === 0)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.nonEmpty, "pqTopK: empty fit sample")
    val dim = sample(0).length
    require(dim % m == 0, s"pqTopK: dim $dim not divisible by m $m")
    val sub = dim / m
    val cents: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      val xs = sample.map(_.slice(s * sub, (s + 1) * sub))
      var cs = Array.tabulate(math.min(kc, xs.length))(xs(_).clone)
      for (_ <- 1 to 5) {
        val sums = Array.fill(cs.length)(new Array[Double](sub))
        val cnt = new Array[Long](cs.length)
        xs.foreach { x =>
          var best = 0; var bestD = Double.MaxValue
          for (j <- cs.indices) {
            var d = 0.0; var i = 0
            while (i < sub) { val t = x(i) - cs(j)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = j }
          }
          var i = 0
          while (i < sub) { sums(best)(i) += x(i); i += 1 }
          cnt(best) += 1
        }
        cs = cs.indices.map { j =>
          if (cnt(j) == 0) cs(j) else sums(j).map(_ / cnt(j))
        }.toArray
      }
      cs
    }
    // IVF coarse quantizer composed in FRONT of the ADC sweep (the
    // standard IVF-PQ index): corpus codes carry their nearest-cell
    // id, queries probe their nprobe nearest cells, and the sweep is
    // an equi-join on cell — it touches ~nprobe/nlist of the codes
    // instead of all of them. Each corpus row lives in exactly one
    // cell and a query's probed cells are distinct, so no pair is
    // scored twice. The raw embedding column still never enters the
    // sweep (id, norm, m-byte code, cell only).
    val coarse = coarseCentroids(corpus, nlist, fitSample, totalHint = total)
    val np = math.min(nprobe, coarse.length)
    val cellOf = element_at(
      graft.functions.native.centroidProbes(col("embedding"), coarse, 1), 1)
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"), l2norm(col("embedding")).as("cn"),
      cellOf.as("cell"),
      graft.functions.native.pqEncode(col("embedding"), cents).as("code"))
    val qb = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), l2norm(col("embedding")).as("qn"),
      graft.functions.native.pqTable(col("embedding"), cents).as("tab"),
      graft.functions.native.centroidProbes(col("embedding"), coarse, np).as("probes")))
    // ADC sweep over probed cells only: m reads per surviving pair
    val approx = broadcast(qb.select(col("query_id"), col("qn"), col("tab"),
        explode(col("probes")).as("cell")))
      .join(c.select("neighbor_id", "cn", "code", "cell"), Seq("cell"))
      .select(col("query_id"), col("neighbor_id"),
        (graft.functions.native.pqAdc(col("tab"), col("code"), kc) /
          (col("qn") * col("cn"))).as("asim"))
    val w = Window.partitionBy("query_id").orderBy(desc("asim"), asc("neighbor_id"))
    val shortlist = approx.withColumn("r", row_number().over(w))
      .filter(col("r") <= k * rerank).select("query_id", "neighbor_id")
    // exact rerank of shortlist rows only; corpus probed in place
    val exact = c.select("neighbor_id", "cv", "cn")
      .join(broadcast(shortlist), Seq("neighbor_id"))
      .join(qb.select("query_id", "qv", "qn"), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("sim"))
    val w2 = Window.partitionBy("query_id").orderBy(desc("sim"), asc("neighbor_id"))
    exact.withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** SEMANTIC dedup (the SemDeDup shape, Abbas et al. 2023): drop
    * documents whose EMBEDDINGS are near-identical — paraphrases and
    * boilerplate rewrites that shingle/MinHash dedup cannot see (zero
    * lexical overlap, same meaning). Cluster first, then compare only
    * WITHIN clusters: k-means ([[kmeansClusters]], fixed seed) buckets
    * the corpus so the pair stage is Σ(cluster size)² instead of n² —
    * size k ≈ n/1000 keeps clusters ~10³ and the per-cluster pair work
    * ~10⁶. Emits the keep/drop DECISION (vec_id, cluster, keep,
    * dup_of): within a cluster every vector whose cosine to a
    * SMALLER-id vector clears `threshold` is dropped (keep-first, the
    * same survivor rule as every other dedup family); `dup_of` names
    * the smallest such twin for auditability. Cosine is exact — the
    * clustering only SCOPES the comparison, so precision is 1.0 by
    * construction and only cross-cluster twins are missed (the
    * SemDeDup trade; `overlap = 2` assigns each vector to its 2
    * nearest centroids too, recovering boundary-straddling twins for
    * ≤ overlap× pair work — recall measured in SimilaritySpec).
    *
    * No SQL oracle by design: the k-means fit is not ANSI-expressible
    * (rows-only check + SimilaritySpec planted fixtures, like the ANN
    * family); [[semanticDedupBucketed]] pins the decision rule itself
    * against a full DuckDB recomposition.
    */
  def semanticDedup(embeddings: DataFrame, k: Int, threshold: Double = 0.95,
                    maxIter: Int = 10, seed: Long = 42L,
                    overlap: Int = 1, maxClusterShare: Double = 0.5,
                    guardMinPairWork: Long = 100000000L): DataFrame = {
    require(overlap >= 1 && overlap <= k,
      s"semanticDedup: overlap must be in [1, k], got $overlap")
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feat = embeddings.select(col("vec_id"),
      array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val model = new KMeans().setK(k).setMaxIter(maxIter).setSeed(seed)
      .setFeaturesCol("features").setPredictionCol("cluster").fit(feat)
    // Euclidean top-`overlap` centroid ranking through the DOT-product
    // probe kernel: argmin ‖x−c‖² = argmax (x·c − ‖c‖²/2), so
    // augmenting x with a trailing 1 and c with −‖c‖²/2 makes
    // centroidProbes' dot ranking THE Euclidean ranking — probes(1) is
    // the k-means assignment (modulo exact ties), probes(2..) the
    // OVERLAP assignment (r9 verdict #3): each vector also joins its
    // runner-up clusters, so a twin pair straddling a cluster boundary
    // still meets (in either one's cluster) at ≤ overlap× pair work —
    // the standard SemDeDup cross-cluster-recall mitigation.
    val aug: Array[Array[Double]] = model.clusterCenters.map { c =>
      val a = c.toArray; a :+ (-0.5 * a.map(x => x * x).sum)
    }
    val probes = graft.functions.native.centroidProbes(
      concat(col("embedding"), array(lit(1.0f))), aug, overlap)
    // one scan computes norm + probes; the frame feeds the guard and
    // both join sides (same unconditional-materialization case as
    // embeddingNearDups)
    val e = embeddings.select(col("vec_id"), col("embedding"),
        probes.as("probes"), l2norm(col("embedding")).as("nm"))
      .withColumn("cluster", element_at(col("probes"), 1))
      .localCheckpoint(true)
    // DEGENERATE-FIT GUARD (r9 verdict #4): the pair stage is
    // Σ(cluster size)² — near-identical embeddings or a far-too-small k
    // concentrate the corpus into one cluster and the "scoped" join
    // quietly goes quadratic. Guard on the ASSIGNMENT-grain sizes
    // (cluster-grain aggregate, k rows to the driver); below
    // `guardMinPairWork` comparisons even a fully degenerate fit is
    // trivial, so small corpora skip the check rather than carry a
    // meaningless share bound. Fail-fast posture like mergeInto.
    val sizes = e.select(explode(col("probes")).as("cl"))
      .groupBy("cl").count().collect().map(_.getLong(1))
    val pairWork = sizes.map(s => s * s).sum
    if (pairWork >= guardMinPairWork) {
      val share = sizes.max.toDouble / sizes.sum
      require(share <= maxClusterShare,
        f"semanticDedup: degenerate clustering — largest cluster holds ${share * 100}%.1f%% " +
          f"of assignments (> ${maxClusterShare * 100}%.1f%%), pair stage would do " +
          s"$pairWork comparisons; raise k (target ≈ corpus/1000) or maxClusterShare")
    }
    val a = e.select(col("vec_id"), col("embedding"), col("nm"),
      explode(col("probes")).as("cluster"))
    e.select(col("vec_id"), col("cluster"))
      .join(keepFirstDups(a, threshold), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("dup_of").isNull.as("keep"), col("dup_of"))
  }

  /** The shared survivor DECISION of the semantic-dedup family: within
    * each group of `assigned` (vec_id, embedding, nm, cluster; a
    * vector may carry several rows under overlap assignment), every
    * vector whose exact cosine to a SMALLER-id co-member clears
    * `threshold` maps to its smallest such twin — (vec_id, dup_of).
    * A pair meeting in two shared clusters folds in the min aggregate.
    */
  private def keepFirstDups(assigned: DataFrame, threshold: Double): DataFrame =
    assigned.as("x").hint("shuffle_hash").join(assigned.as("y"),
        col("x.cluster") === col("y.cluster") && col("x.vec_id") > col("y.vec_id"))
      .filter(dot(col("x.embedding"), col("y.embedding")) /
        (col("x.nm") * col("y.nm")) >= threshold)
      .groupBy(col("x.vec_id").as("vec_id"))
      .agg(min(col("y.vec_id")).as("dup_of"))

  /** ORACLE-ELIGIBLE twin of [[semanticDedup]] (r9 verdict #8): the
    * same within-group exact-cosine keep-first decision over a FIXED,
    * ANSI-expressible assignment (`vec_id mod buckets`) instead of the
    * fitted k-means — so DuckDB recomposes the ENTIRE output and the
    * decision logic is pinned cross-engine (what the md5 MinHash key
    * did for LSH banding), leaving the clustering fit as the only
    * rows-only piece of the family. Not a semantic scoping (buckets
    * are arbitrary) — a verification harness, same pair-stage shape.
    */
  def semanticDedupBucketed(embeddings: DataFrame, buckets: Int,
                            threshold: Double): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding"),
        (col("vec_id") % buckets).cast("int").as("cluster"),
        l2norm(col("embedding")).as("nm"))
      .localCheckpoint(true)
    e.select(col("vec_id"), col("cluster"))
      .join(keepFirstDups(e, threshold), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("dup_of").isNull.as("keep"), col("dup_of"))
  }

  def embeddingNearDupsApprox(embeddings: DataFrame, threshold: Double,
                              bands: Int = 8, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(64, dim)
    val bits = 64 / bands
    val sigd = embeddings.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nm"), signature(col("embedding"), planes).as("sig"))
    // band b value = bits-wide slice of the signature, packed with the
    // band index so one join key column covers all bands
    val banded = sigd.select(col("vec_id"), col("embedding"), col("nm"),
      explode(array((0 until bands).map(bnd =>
        lit(bnd.toLong << 58) + shiftrightunsigned(col("sig"), bnd * bits) % lit(1L << bits)): _*)).as("bk"))
    val a = banded.select(col("vec_id").as("a"), col("embedding").as("va"), col("nm").as("na"), col("bk"))
    val b = banded.select(col("vec_id").as("b"), col("embedding").as("vb"), col("nm").as("nb"), col("bk"))
    a.hint("shuffle_hash").join(b, Seq("bk"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("sim"))
      .filter(col("sim") >= threshold)
      .dropDuplicates("a", "b")
  }

  /** [[embeddingNearDupsApprox]] with [[md5SignPlanes]] — the
    * ENGINE-PORTABLE oracle twin of the embedding-LSH near-dup path
    * (r13, the X230 move on the family's last unpinned member; with
    * this every rows-only key except libm-deflate has a cross-engine
    * pin). The production path's banded 64-bit Gaussian signature is
    * re-expressed as `bands` independent md5-derived ±1 plane tables
    * of 64/bands bits each — the identical pigeonhole guarantee (a
    * pair within hamming distance bands−1 collides in some band)
    * with every stage ANSI-recomposable: the band value is a sum of
    * sign-bits of sequential float64 dots (the q_topk_cosine
    * bit-exactness contract) against planes any engine rebuilds from
    * MD5 alone, candidates are a bucket equi-join, and the verify is
    * the exact-cosine filter — so candidate generation, the
    * threshold decision and the pair set all hash-match cross-engine.
    * Same plan shape and Σ bucket² cost as the production path; the
    * production path stays [[embeddingNearDupsApprox]] (rows-only).
    */
  def embeddingNearDupsApproxPortable(embeddings: DataFrame, threshold: Double,
                                      bands: Int = 8, dim: Int = 64): DataFrame = {
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    val bits = 64 / bands
    val planes = md5SignPlanes(bands, bits, dim)
    val banded = embeddings.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nm"),
      explode(graft.functions.native.lshKeys(col("embedding"), planes, multiprobe = false)).as("bk"))
    val a = banded.select(col("vec_id").as("a"), col("embedding").as("va"), col("nm").as("na"), col("bk"))
    val b = banded.select(col("vec_id").as("b"), col("embedding").as("vb"), col("nm").as("nb"), col("bk"))
    a.hint("shuffle_hash").join(b, Seq("bk"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("sim"))
      .filter(col("sim") >= threshold)
      .dropDuplicates("a", "b")
  }
}
