package graft.ops

import graft.functions.fns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection over `documents`/`embeddings`: exact-pairwise
  * Jaccard with blocking, MinHash+LSH banding, SimHash banding, and
  * hyperplane-LSH embedding near-dup — the standard dedup ladder of a
  * training-data pipeline.
  *
  * Scale design (100 TB): never a blind cross join. Every pairwise
  * operator first reduces the candidate space with an equi-joinable
  * blocking key (lang block, LSH band bucket, SimHash chunk, hyperplane
  * bucket), so the heavy work is an equi-join shuffle on well-distributed
  * keys; the exact similarity check runs only on candidates. Bucket-size
  * skew is bounded: band hashes are 64-bit (collisions spread), and a
  * `groupBy(bucket).count` guardrail can cap pathological buckets.
  */
object DedupOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  val JaccardThreshold = 0.8

  private val shingleSqlExpr =
    """list_distinct(list_transform(
      |      range(1, len(string_split_regex(trim(text), '\s+')) - 1),
      |      i -> string_split_regex(trim(text), '\s+')[i] || ' ' ||
      |           string_split_regex(trim(text), '\s+')[i+1] || ' ' ||
      |           string_split_regex(trim(text), '\s+')[i+2]))""".stripMargin

  /** q14: exact shingle-Jaccard near-dup pairs, blocked by (lang, size
    * band). The size bands are LOSSLESS for the threshold: j ≥ 0.8
    * implies |A|/|B| ∈ [0.8, 1.25], so band = floor(log₁.₂₅|S|) differs
    * by at most 1 between any qualifying pair — the left side explodes to
    * {band-1, band, band+1} and the pair is found exactly once. Shingles
    * are hashed to longs before the set ops (same jaccard value modulo a
    * ~2⁻⁶⁴ collision, far cheaper comparisons than 3-word strings). The
    * oracle recomputes the result exhaustively in DuckDB with list ops.
    *
    * EXACT AT SCALE via prefix filtering (the AllPairs/PPJoin family):
    * if J(A,B) ≥ t then the overlap is o ≥ t/(1+t)·(|A|+|B|), and with
    * the size band guaranteeing |B| ≥ 0.8·|A| that gives o ≥ t·|A| (for
    * t = 0.8: 0.444·1.8·|A|) — so A and B must share an element among
    * the first |S| − ⌈t·|S|⌉ + 1 elements of each SORTED hash set.
    * Candidate generation is therefore an equi-join on exploded prefix
    * hashes (+ lang, + band gate), and the exact merge-walk Jaccard runs
    * only on candidates. Ambient sets here are near-disjoint, so prefix
    * hashes almost never collide across non-duplicates: candidates ≈
    * answers, no quadratic block join anywhere, output exactly equal to
    * the exhaustive scan. */
  def q14NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    // The repartition is a deliberate optimizer barrier, not (only) a
    // distribution choice: without an Exchange below the self-join,
    // CollapseProject inlines the whole shingle→hash→sort chain into the
    // join's output projection and recomputes it PER CANDIDATE PAIR.
    val base = docs(s, dir).select(
      col("doc_id"), col("lang"),
      fns.hashedWordShingles(col("text"), 3).as("shh"))
      .withColumn("band", floor(log(1.25, size(col("shh")))).cast("int"))
      .repartition(col("doc_id"))
    // prefix hashes: first |S| - ceil(t*|S|) + 1 of the (sorted) set
    val pfxLen = (size(col("shh")) - ceil(size(col("shh")) * JaccardThreshold) + 1).cast("int")
    val pfx = base.select(col("doc_id"), col("lang"), col("band"),
      explode(slice(col("shh"), lit(1), greatest(pfxLen, lit(1)))).as("h"))
    val cand = pfx.as("pa").join(pfx.as("pb"),
        col("pa.h") === col("pb.h") && col("pa.lang") === col("pb.lang") &&
          col("pa.doc_id") < col("pb.doc_id") &&
          abs(col("pa.band") - col("pb.band")) <= 1)
      .select(col("pa.doc_id").as("doc_a"), col("pb.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(base.select(col("doc_id").as("doc_a"), col("shh").as("sh_a")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("shh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(fns.sortedJaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .where(col("jaccard") >= JaccardThreshold)
  }

  val q14Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |    $shingleSqlExpr AS sh
       |  FROM documents)
       |SELECT doc_a, doc_b, jaccard FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    round(len(list_intersect(a.sh, b.sh))::DOUBLE
       |          / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
       |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id)
       |WHERE jaccard >= $JaccardThreshold""".stripMargin

  /** q15: MinHash + LSH banding near-dup over shingles. 64 minhashes
    * (one-pass custom expression), 32 bands × 2 rows → candidate pairs
    * share a band hash → exact Jaccard verify. At threshold 0.8 the
    * banding miss probability is (1-0.64)^32 ≈ 6e-15 per pair, so the
    * verified output equals the exhaustive scan — which is exactly the
    * oracle used here (TrainingOpsSpec asserts the equality Spark-side
    * too, and ambient shingle similarity ≈ 0 keeps candidates ≈ answers).
    *
    * This is the at-scale path: candidate generation is an equi-join on
    * (band, bandHash) instead of an O(n²/blocks) blocked cross join. */
  def q15MinhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashPairs(docs(s, dir))

  /** The reusable kernel behind q15, over any `(doc_id, text)` frame —
    * also the SQL surface's `CALL graft.system.dedup_pairs`. */
  private[graft] def minhashPairs(d0: DataFrame): DataFrame = {
    val k = 64
    val bandRows = 2
    val d = d0.select(col("doc_id"), col("text"))
    // narrow banded view: (doc_id, band, band_hash) — one single-pass
    // band-hash expression per row, no wide payload in the shuffle
    // docs with NO shingles (< 3 tokens) are excluded before banding:
    // their minhash signature is the identical all-MaxValue sentinel, so
    // every band would collide every such doc with every other — an
    // O(n_short^2) candidate blow-up — while contributing zero output
    // (two empty sets can never reach the jaccard threshold; the oracle's
    // 0/0 comparison is NULL ≥ θ = false, same exclusion)
    val banded = d.select(
      col("doc_id"), fns.hashedWordShingles(col("text"), 3).as("shh"))
      .where(size(col("shh")) > 0)
      .select(col("doc_id"),
        posexplode(fns.minhashBandsFromHashes(col("shh"), k, bandRows, seed = 7L)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))
    // candidate pairs: equi-join on (band, band_hash), dedup multi-band hits
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // exact verify: re-join hashed shingle sets for surviving candidates
    // (repartition = optimizer barrier against per-pair recompute, as in q14)
    val sh = d
      .select(col("doc_id"), fns.hashedWordShingles(col("text"), 3).as("shh"))
      .repartition(col("doc_id"))
    cand
      .join(sh.withColumnsRenamed(Map("doc_id" -> "doc_a", "shh" -> "sh_a")), "doc_a")
      .join(sh.withColumnsRenamed(Map("doc_id" -> "doc_b", "shh" -> "sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(fns.sortedJaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .where(col("jaccard") >= JaccardThreshold)
  }

  /** Oracle: exhaustive global pairs (LSH recall is 1.0 at these params;
    * spec-verified by exact equality with the exhaustive scan). */
  val q15Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    $shingleSqlExpr AS sh
       |  FROM documents)
       |SELECT doc_a, doc_b, jaccard FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    round(len(list_intersect(a.sh, b.sh))::DOUBLE
       |          / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
       |  FROM d a JOIN d b ON a.doc_id < b.doc_id)
       |WHERE jaccard >= $JaccardThreshold""".stripMargin

  /** q16 near-dup gate: report the nearest neighbor within Hamming ≤ 3,
    * else -1 — a SCHEME-INDEPENDENT contract (any lossless candidate
    * scheme yields the identical answer, and the DuckDB oracle verifies
    * it against the exhaustive all-pairs scan). */
  val SimhashHamMax = 3

  /** Manku-style permuted tables: 64 bits split into 6 blocks
    * (11,11,11,11,10,10); a table per 3-subset of blocks keys on those
    * blocks' concatenated bits. Hamming ≤ 3 flips at most 3 blocks, so
    * some 3-subset is clean on both sides (pigeonhole) — candidates are
    * LOSSLESS for the ≤3 gate. Key cardinality is C(6,3)=20 tables ×
    * 2^31..33 keys, so ambient bucket collisions are ~n²·20/2^31 — the
    * fix for round 2's 4×16-bit chunk scheme whose 65,536-value keys
    * made candidates quadratic-with-small-constant at ≥10⁹ docs
    * (Manku/Jain/Sarma, WWW'07 §3; the wider-prefix permuted-table
    * construction). */
  private val SimhashBlockOffsets = Seq(0, 11, 22, 33, 44, 54)
  private val SimhashBlockWidths = Seq(11, 11, 11, 11, 10, 10)
  private val SimhashSubsets: Seq[Seq[Int]] =
    (0 until 6).combinations(3).map(_.toSeq).toSeq

  /** The 20 per-table keys for one simhash column (codegen'd bit math). */
  private[graft] def simhashKeys(sh: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] =
    SimhashSubsets.map { blocks =>
      blocks.zipWithIndex.map { case (b, i) =>
        val block = shiftright(sh, SimhashBlockOffsets(b))
          .bitwiseAND(lit((1L << SimhashBlockWidths(b)) - 1))
        shiftleft(block, i * 11)
      }.reduce(_ bitwiseOR _)
    }

  /** Candidate (doc_id, ham) pairs within the ≤`SimhashHamMax` gate,
    * from the permuted-table equi-join. Factored out so the skew spec
    * can drive it with synthetic pathological simhashes. Duplicate
    * pairs from multiple agreeing tables are harmless: min() absorbs
    * them without a dedup shuffle. */
  private[graft] def simhashNearest(sh: DataFrame): DataFrame = {
    val probes = sh.select(col("doc_id"), col("sh"),
      posexplode(array(simhashKeys(col("sh")): _*)))
      .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "key"))
    probes.as("a").join(probes.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.key") === col("b.key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id"),
        fns.hamming64(col("a.sh"), col("b.sh")).as("ham"))
      .where(col("ham") <= SimhashHamMax)
      .groupBy("doc_id").agg(min("ham").as("nearest_ham"))
  }

  /** The q16 corpus: documents plus planted near-identical copies (every
    * 20th doc re-appears with one appended token — a re-crawl/boilerplate
    * duplicate, landing at small simhash Hamming distance). */
  private[graft] def simhashCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"), col("text"))
    base.unionByName(base.where(col("doc_id") % 20 === 0).select(
      (col("doc_id") + 1099511627776L).as("doc_id"),
      concat(col("text"), lit(" graftdup")).as("text")))
  }

  def q16Simhash(s: SparkSession, dir: String): DataFrame = {
    val sh = simhashCorpus(s, dir).select(
      col("doc_id"),
      fns.simhash64(fns.wsTokens(col("text"))).as("sh"))
    sh.join(simhashNearest(sh), Seq("doc_id"), "left")
      .select(col("doc_id"), col("sh").as("simhash"),
        coalesce(col("nearest_ham"), lit(-1)).as("nearest_ham"))
  }

  /** Exact DuckDB oracle for q16: per-token FNV-1a+splitmix64, 64 bit
    * votes, then the EXHAUSTIVE all-pairs nearest-within-3 — a stronger
    * check than mirroring the tables: it verifies the permuted-table
    * scheme's losslessness, not just its arithmetic. */
  val q16Sql: String = {
    import SqlKernels._
    s"""WITH docs16 AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1099511627776 AS doc_id, text || ' graftdup' AS text
       |  FROM documents WHERE doc_id % 20 = 0),
       |toks AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |  FROM docs16),
       |th0 AS (
       |  SELECT doc_id, ${fnv1aFold(charCodes("tok"))} AS h0 FROM toks),
       |th AS (
       |  SELECT doc_id, ${i64("hu")} AS hv
       |  FROM ${mix64Select("th0", "h0", "hu")} AS mx),
       |votes AS (
       |  SELECT doc_id, b, sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM th, unnest(generate_series(0, 63)) AS t(b)
       |  GROUP BY doc_id, b),
       |sh AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN s > 0 THEN
       |      CASE WHEN b = 63 THEN -9223372036854775808 ELSE (1::BIGINT << b) END
       |      ELSE 0 END) AS BIGINT) AS simhash
       |  FROM votes GROUP BY doc_id),
       |cand AS (
       |  SELECT a.doc_id AS doc_id, min(bit_count(xor(a.simhash, b.simhash))) AS nearest_ham
       |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
       |  GROUP BY a.doc_id)
       |SELECT s.doc_id, s.simhash,
       |  CAST(CASE WHEN c.nearest_ham <= $SimhashHamMax THEN c.nearest_ham ELSE -1 END
       |       AS INTEGER) AS nearest_ham
       |FROM sh s LEFT JOIN cand c ON s.doc_id = c.doc_id""".stripMargin
  }

  /** True near-dups sit at cos ≥ ~0.99; the corpus' ambient pair maximum
    * is ~0.51, so this threshold separates planted dups from noise with
    * a wide margin — and at this angle (~18°/π per hyperplane bit) the
    * 6-bit Hamming≤1 multiprobe has ~0.98 per-pair recall. */
  val NearDupCosine = 0.95
  /** Bucket bits scale ~log(corpus): 2^8 buckets for the ~5k-vector sf0.1
    * corpus keeps ambient bucket collisions (n²·(nbits+1)/2^nbits) low
    * while per-pair recall at cos ≥ 0.95 stays ≈ 0.975 (p_bit ≈ 0.032,
    * Hamming ≤ 1 over 8 bits). */
  private val NearDupBits = 8

  /** q17: embedding near-dup pairs, at-scale formulation — candidates
    * from a hyperplane-LSH bucket equi-join (bucket equal or 1 bit off),
    * exact cosine only on candidates. No all-pairs join anywhere: the
    * corpus shuffles once on the bucket key (≈n²/2^nbits ambient
    * candidates), vs the previous `vec_id < vec_id` cross join.
    *
    * The corpus carries planted near-duplicates — every 10th vector gets
    * a copy perturbed by 10% of another vector (deterministic double
    * math, cast back to float) — modeling re-crawled/near-identical
    * documents; cos(original, copy) ≈ 0.995. The DuckDB oracle rebuilds
    * the same corpus, the same buckets (SqlKernels.hyperplaneCtes), the
    * same probes, so the gate is exact; TrainingOpsSpec measures recall
    * against the exhaustive scan. */
  /** The q17 corpus: embeddings plus planted near-duplicates (every 10th
    * vector copied with a 10% perturbation toward another vector). */
  def nearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = s.read.parquet(s"$dir/embeddings.parquet").select(col("vec_id"), col("embedding"))
    val pert = base.as("a")
      .join(base.as("b"), col("b.vec_id") === col("a.vec_id") + 7)
      .where(col("a.vec_id") % 10 === 0)
      .select(
        (col("a.vec_id") + 1099511627776L).as("vec_id"),
        zip_with(col("a.embedding"), col("b.embedding"),
          (x, y) => (x.cast("double") + lit(0.1) * y.cast("double")).cast("float"))
          .as("embedding"))
    base.unionByName(pert)
  }

  def q17EmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val corpus = nearDupCorpus(s, dir)
    val withB = corpus.withColumn("bucket",
      fns.hyperplaneBucket(col("embedding"), NearDupBits, seed = 11L))
    val probes = withB.select(col("vec_id"), col("embedding"),
      explode(array((col("bucket") +: (0 until NearDupBits).map(b =>
        col("bucket").bitwiseXOR(lit(1 << b)))): _*)).as("bucket"))
    probes.as("a").join(withB.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(fns.cosineSim(col("a.embedding"), col("b.embedding")), 6).as("cos"))
      .dropDuplicates("vec_a", "vec_b")
      .where(col("cos") >= NearDupCosine)
  }

  val q17Sql: String = {
    import SqlKernels._
    s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
       |pert AS (
       |  SELECT a.vec_id + 1099511627776 AS vec_id,
       |    list_transform(range(1, len(a.embedding) + 1),
       |      i -> CAST(a.embedding[i]::DOUBLE + 0.1 * b.embedding[i]::DOUBLE AS FLOAT)) AS embedding
       |  FROM base a JOIN base b ON b.vec_id = a.vec_id + 7
       |  WHERE a.vec_id % 10 = 0),
       |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
       |${hyperplaneCtes("corpus", "wb", nbits = NearDupBits, dim = 64, seed = 11L)},
       |probes AS (
       |  SELECT vec_id, embedding, CAST(xor(bucket::BIGINT, f) AS INT) AS bucket
       |  FROM wb, unnest([${(0L +: (0 until NearDupBits).map(1L << _)).mkString(", ")}]) AS t(f)),
       |scored AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    round(${cosineSql("a.embedding", "b.embedding")}, 6) AS cos
       |  FROM probes a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, cos FROM scored WHERE cos >= $NearDupCosine""".stripMargin
  }

  /** q37: duplicate-CLUSTER assignment — the step a real training-data
    * pipeline runs after pair detection: connected components over the
    * near-dup pair graph, one canonical document per component (the min
    * doc_id), everything else marked for drop. Pairs alone under-dedup:
    * a~b and b~c must collapse to ONE kept document even when (a,c)
    * itself never crossed the pair threshold.
    *
    * Algorithm (the at-scale shape): iterative min-label propagation with
    * POINTER JUMPING — each round every node takes the min label over its
    * neighbors, then labels compress through one more self-join
    * (label := label(label)), so convergence is O(log diameter) rounds,
    * not O(diameter) (the pointer-jumping half of Shiloach–Vishkin-style
    * parallel CC; same driver-round discipline as RelOps.closure's path
    * doubling). Each round is two equi-join shuffles of O(|V|+|E|) rows;
    * the edge list is materialized once via localCheckpoint and reused.
    *
    * The edge set is q15's MinHash+LSH verified pairs (recall 1.0 at
    * these parameters — spec-proven), so the DuckDB oracle regenerates
    * the same graph from the exhaustive pair scan and closes it with
    * WITH RECURSIVE reachability + min-per-node. */
  def q37DedupClusters(s: SparkSession, dir: String): DataFrame =
    assignClusters(q15MinhashLsh(s, dir))

  /** Cluster assignment over any `(doc_a, doc_b)` pair frame — the
    * reusable kernel behind q37 and `CALL graft.system.dedup_assign`. */
  private[graft] def assignClusters(pairs: DataFrame): DataFrame =
    connectedComponents(pairs.select(col("doc_a"), col("doc_b")))
      .select(col("label").as("cluster_id"), col("id").as("doc_id"),
        (col("id") === col("label")).as("is_canonical"))

  /** Connected components over an undirected pair list `(doc_a, doc_b)`:
    * returns (id, label) with label = min node id of the component.
    * Min-label propagation + per-round pointer jumping; factored out so
    * specs can drive it with synthetic chain/cycle/multi-component
    * graphs beyond what the corpus produces. */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .withColumnsRenamed(Map("doc_a" -> "src", "doc_b" -> "dst"))
      .localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var converged = false
    while (!converged) {
      val viaEdges = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("label")).as("nl"))
      val stepped = labels.as("l")
        .join(viaEdges, col("l.id") === col("src"), "left")
        .select(col("l.id").as("id"), col("l.label").as("old"),
          least(col("l.label"), coalesce(col("nl"), col("l.label"))).as("label"))
      // pointer jump: compress label chains one hop per round. The
      // convergence signal rides the SAME pass as a changed-label flag —
      // the lazy localCheckpoint materializes (and truncates lineage) on
      // the count action below, so each round is exactly ONE job instead
      // of a checkpoint job plus a re-join convergence probe.
      val jumped = stepped.as("x")
        .join(stepped.as("y"), col("x.label") === col("y.id"), "left")
        .select(col("x.id").as("id"),
          coalesce(col("y.label"), col("x.label")).as("label"),
          (coalesce(col("y.label"), col("x.label")) =!= col("x.old")).as("chg"))
        .localCheckpoint(eager = false)
      converged = jumped.where(col("chg")).count() == 0L
      labels = jumped.select(col("id"), col("label"))
    }
    labels
  }

  /** Oracle: exhaustive near-dup pairs → symmetric closure via
    * WITH RECURSIVE → cluster id = min reachable node (incl. self). */
  val q37Sql: String =
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id,
       |    $shingleSqlExpr AS sh
       |  FROM documents),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      round(len(list_intersect(a.sh, b.sh))::DOUBLE
       |            / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
       |    FROM d a JOIN d b ON a.doc_id < b.doc_id)
       |  WHERE jaccard >= $JaccardThreshold),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
       |SELECT least(a, min(b)) AS cluster_id, a AS doc_id,
       |  (a <= min(b)) AS is_canonical
       |FROM reach GROUP BY a""".stripMargin

  /** q47: cross-document duplicated-SPAN fraction — the exact-substring
    * dedup signal (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499) at word-k-gram
    * granularity: for each document, the fraction of its k-gram spans
    * (k = [[DupSpanK]]) whose gram occurs in at least one OTHER
    * document. It completes the dedup ladder between whole-doc passes
    * (q7 exact, q15 MinHash) and within-doc repetition (q45): partial
    * copies and shared boilerplate that no whole-doc similarity crosses
    * still light up here, which is exactly what corpus-internal
    * boilerplate removal needs. On this corpus the 0.5 keep threshold
    * flags precisely the planted near-dup family.
    *
    * Scale shape (100 TB): no pairwise path anywhere — the heavy work
    * is fine-grained-key exchanges. (1) span counts per (gram, doc)
    * pair; (2) the per-gram distinct-doc count as a WINDOW over that
    * pair set — one exchange+sort on gram, where the groupBy+self-join
    * form pays the gram exchange on BOTH join sides plus the merge
    * (same-JVM interleaved A/B with single-eval gram extraction,
    * the since-deleted tools/Q47Probe at sf0.1: window 1.26-1.56 s vs join 1.97-2.19 s);
    * (3) one per-doc rollup. Gram extraction is the single-eval
    * [[fns.wordShingles]] expression — the composed-builtins form
    * re-evaluated the token split per lambda element and dominated
    * everything downstream (12-15 s for this query at sf0.1).
    * `dup_frac` is a single IEEE division (the q41/q45 bit-exactness
    * rule), so the DuckDB compare stays hash-exact. */
  val DupSpanK = 6

  def q47DupSpans(s: SparkSession, dir: String): DataFrame = {
    // gram extraction = the same fns helpers q14's shingles use (explode
    // drops wordShingles' empty too-short array, so no length filter)
    val grams = docs(s, dir).select(col("doc_id"),
      explode(fns.wordShingles(fns.wsTokens(col("text")), DupSpanK)).as("gram"))
    val pairs = grams.groupBy(col("gram"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    val wG = org.apache.spark.sql.expressions.Window.partitionBy(col("gram"))
    pairs.withColumn("nd", count(lit(1)).over(wG))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_spans"),
        sum(when(col("nd") >= 2, col("c")).otherwise(0L)).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        (col("n_dup_spans") * lit(1.0) / col("n_spans")).as("dup_frac"),
        (col("n_dup_spans") * lit(1.0) / col("n_spans") >= 0.5).as("flagged"))
  }

  val q47Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents),
      |grams AS (
      |  SELECT doc_id, array_to_string(ts[i:i+${DupSpanK - 1}], ' ') AS gram
      |  FROM toks, unnest(generate_series(1, greatest(len(ts) - ${DupSpanK - 1}, 0))) AS u(i)
      |  WHERE len(ts) >= $DupSpanK),
      |pairs AS (SELECT gram, doc_id, count(*) AS c FROM grams GROUP BY 1, 2),
      |gd AS (SELECT gram, count(*) AS nd FROM pairs GROUP BY 1),
      |agg AS (
      |  SELECT p.doc_id,
      |    CAST(sum(p.c) AS BIGINT) AS n_spans,
      |    CAST(sum(CASE WHEN gd.nd >= 2 THEN p.c ELSE 0 END) AS BIGINT) AS n_dup_spans
      |  FROM pairs p JOIN gd USING (gram) GROUP BY p.doc_id)
      |SELECT doc_id, n_spans, n_dup_spans,
      |  n_dup_spans * 1.0 / n_spans AS dup_frac,
      |  n_dup_spans * 1.0 / n_spans >= 0.5 AS flagged
      |FROM agg""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q14_ngram_jaccard" -> (q14NgramJaccard _),
    "q15_minhash_lsh" -> (q15MinhashLsh _),
    "q16_simhash" -> (q16Simhash _),
    "q17_embedding_neardup" -> (q17EmbeddingNearDup _),
    "q37_dedup_clusters" -> (q37DedupClusters _),
    "q47_dup_spans" -> (q47DupSpans _)
  )

  val oracles: Map[String, String] = Map(
    "q14_ngram_jaccard" -> q14Sql,
    "q15_minhash_lsh" -> q15Sql,
    "q16_simhash" -> q16Sql,
    "q17_embedding_neardup" -> q17Sql,
    "q37_dedup_clusters" -> q37Sql,
    "q47_dup_spans" -> q47Sql
  )
}
