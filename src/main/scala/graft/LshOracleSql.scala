package graft

/** Forced-distributed oracles for the embedding family's hyperplane-LSH
  * plans.
  *
  * When `spark.graft.embeddingBlockMaxVecs` is 0 (the [[Gates]]
  * force-distributed convention), `knnGraph`, `embeddingDedup` /
  * `semanticClusters` and `topKForQueryStream` take the
  * signed-random-projection LSH path — approximate, so the exact
  * all-pairs oracles no longer describe their output. But the LSH
  * candidate generation is fully deterministic: the Rademacher
  * hyperplanes come from the splitmix64 finalizer
  * ([[graft.ops.Dedup.mix64]]), the sign bits are IEEE dot products in
  * index order, and candidate scoring/ranking reuses the exact cosine
  * contract. So the LSH path gets a FULL DuckDB oracle of its own: the
  * mix64 finalizer replays step-for-step in HUGEINT arithmetic (the
  * `HllSql` XXH64 precedent), the 256 hyperplane rows rebuild as
  * `list(±1.0 ORDER BY dim)`, band keys re-derive as
  * `(band << 16) | Σ sign-bits`, and candidates are the same band-key
  * equi-join the Spark plan runs. Exactly the kernel's pipeline —
  * nothing is "given" except the published splitmix64 constants.
  *
  * [[overrides]] keys on the SAME conf the dispatch reads (the advisor's
  * round-6 prescription): it swaps the four affected oracles in only
  * when the active session pins `embeddingBlockMaxVecs` to 0 — the one
  * configuration the forced-distributed suite runs. (A nonzero override
  * below the corpus size also flips the plan to LSH, but deciding that
  * here would need a corpus count at oracle-dump time; that mode is not
  * driver-exercised and keeps the exact oracle.)
  */
object LshOracleSql {

  private val H64 = "CAST('18446744073709551616' AS HUGEINT)" // 2^64
  // splitmix64 finalizer constants (public-domain Steele/Lea/Flood PRNG)
  private val Golden = "CAST('11400714819323198485' AS HUGEINT)" // 0x9e3779b97f4a7c15
  private val C1 = "CAST('13787848793156543929' AS HUGEINT)"     // 0xbf58476d1ce4e5b9
  private val C2 = "CAST('10723151780598845931' AS HUGEINT)"     // 0x94d049bb133111eb

  /** a*p mod 2^64 via 32-bit split multiplies (the HllSql helper). */
  private def mul64(a: String, p: String): String =
    s"((($a) % 4294967296) * $p + " +
      s"((($a) // 4294967296) * $p % 4294967296) * 4294967296) % $H64"

  /** EmbCte + the hyperplane sign table + per-vector band keys:
    * `bk(vec_id, bk)` with 16 rows per vector (one per band). Mirrors
    * Dedup.signTable/hyperplaneBandKeys: sign(plane, dim) from
    * mix64(plane·0x100000001 + dim) bit 0; band key =
    * (band << 16) | sign-bit word of the band's 16 planes. */
  private val BandCte: String = SparkEntry.EmbCte.stripSuffix("\n") +
    s""",
       |pd AS (SELECT p.plane, unnest(generate_series(0, d.nd - 1)) AS i
       |       FROM (SELECT unnest(generate_series(0, 255)) AS plane) p,
       |            (SELECT len(v) AS nd FROM nv LIMIT 1) d),
       |m0 AS (SELECT plane, i,
       |         (CAST(plane AS HUGEINT) * 4294967297 + i + $Golden) % $H64 AS z
       |       FROM pd),
       |m1 AS (SELECT plane, i, xor(z, z // 1073741824) AS z FROM m0),
       |m2 AS (SELECT plane, i, ${mul64("z", C1)} AS z FROM m1),
       |m3 AS (SELECT plane, i, xor(z, z // 134217728) AS z FROM m2),
       |m4 AS (SELECT plane, i, ${mul64("z", C2)} AS z FROM m3),
       |m5 AS (SELECT plane, i, xor(z, z // 2147483648) AS z FROM m4),
       |prow AS (SELECT plane,
       |           list(CASE WHEN z % 2 = 0 THEN CAST(1 AS DOUBLE)
       |                     ELSE CAST(-1 AS DOUBLE) END ORDER BY i) AS r
       |         FROM m5 GROUP BY plane),
       |bb AS (SELECT nv.vec_id, pr.plane // 16 AS band,
       |         CASE WHEN list_dot_product(nv.v, pr.r) > 0
       |              THEN CAST(1 AS BIGINT) << CAST(pr.plane % 16 AS INTEGER)
       |              ELSE CAST(0 AS BIGINT) END AS bit
       |       FROM nv CROSS JOIN prow pr),
       |bk AS (SELECT vec_id, CAST(band * 65536 + sum(bit) AS BIGINT) AS bk
       |       FROM bb GROUP BY vec_id, band)
       |""".stripMargin

  /** Band-join candidate pairs + exact cosine, a < b (embeddingDedup's
    * LSH branch). */
  private val PairCte: String = BandCte.stripSuffix("\n") +
    """,
      |cand AS (SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
      |         FROM bk a JOIN bk b ON a.bk = b.bk AND a.vec_id < b.vec_id),
      |pairs AS (
      |  SELECT c.vec_id_a, c.vec_id_b,
      |         round(list_dot_product(va.v, vb.v)/(va.nrm*vb.nrm), 6) AS cosine
      |  FROM cand c JOIN nv va ON va.vec_id = c.vec_id_a
      |              JOIN nv vb ON vb.vec_id = c.vec_id_b)
      |""".stripMargin

  /** `Dedup.embeddingDedup(emb, 0.3)` on the LSH branch. */
  val ddEmbedding: String = PairCte +
    "SELECT vec_id_a, vec_id_b, cosine FROM pairs WHERE cosine >= 0.3"

  /** `Dedup.semanticClusters(emb, 0.3)` with LSH-branch pairs feeding
    * the same recursive min-label component walk as the exact oracle. */
  val simSemdedup: String =
    PairCte.replaceFirst("WITH ", "WITH RECURSIVE ").stripSuffix("\n") +
      """,
        |ep AS (SELECT vec_id_a AS src, vec_id_b AS dst FROM pairs
        |       WHERE cosine >= 0.3),
        |eedges AS (SELECT src, dst FROM ep UNION ALL SELECT dst, src FROM ep),
        |ewalk(vertex, lab) AS (
        |  SELECT DISTINCT src, src FROM eedges
        |  UNION
        |  SELECT e.dst, w.lab FROM ewalk w JOIN eedges e ON e.src = w.vertex),
        |comp AS (SELECT vertex, min(lab) AS component FROM ewalk GROUP BY vertex)
        |SELECT e.vec_id, coalesce(c.component, e.vec_id) AS canonical_id
        |FROM embeddings e LEFT JOIN comp c ON c.vertex = e.vec_id""".stripMargin

  /** `Similarity.knnGraph(emb, 3)` on the LSH branch: band-join
    * candidates both directions, exact cosine, per-query top-3. */
  val simKnn: String = BandCte.stripSuffix("\n") +
    """,
      |scored AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |         round(list_dot_product(qa.v, qb.v)/(qa.nrm*qb.nrm), 6) AS cosine
      |       FROM bk a JOIN bk b ON a.bk = b.bk AND a.vec_id <> b.vec_id
      |       JOIN nv qa ON qa.vec_id = a.vec_id
      |       JOIN nv qb ON qb.vec_id = b.vec_id)
      |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
      |FROM (
      |  SELECT query_id, neighbor_id, cosine,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored)
      |WHERE rank <= 3""".stripMargin

  /** `Similarity.topKForQueryStream` on the LSH serving path over the
    * `st_ann` query set (vec_id < 10, k = 5). */
  val stAnn: String = BandCte.stripSuffix("\n") +
    """,
      |scored AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |         round(list_dot_product(qa.v, qb.v)/(qa.nrm*qb.nrm), 6) AS cosine
      |       FROM bk a JOIN bk b ON a.bk = b.bk AND a.vec_id <> b.vec_id
      |       JOIN nv qa ON qa.vec_id = a.vec_id
      |       JOIN nv qb ON qb.vec_id = b.vec_id
      |       WHERE a.vec_id < 10)
      |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
      |FROM (
      |  SELECT query_id, neighbor_id, cosine,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored)
      |WHERE rank <= 5""".stripMargin

  /** True iff the active session pins the embedding strategy switch at
    * or below 0 — the same gate `knnGraph`/`embeddingDedup`/
    * `topKForQueryStream` dispatch on, so the dumped oracle always
    * describes the plan that actually ran. */
  private def lshForced: Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .exists(Gates.embeddingBlockMaxVecs.limit(_) <= 0)

  /** The four oracle swaps, active only in forced-LSH sessions. */
  def overrides: Map[String, String] =
    if (!lshForced) Map.empty
    else Map(
      "dd_embedding" -> ddEmbedding,
      "sim_semdedup" -> simSemdedup,
      "sim_knn" -> simKnn,
      "st_ann" -> stAnn)
}
