package graft.queries

import graft.dedup.Dedup
import graft.similarity.VectorFunctions
import graft.text.TextFunctions

/** Shared DuckDB SQL fragments mirroring the engine's text/dedup/vector
  * expressions. Constants (minhash permutations, hyperplanes) are rendered
  * from the SAME Scala values the Spark side uses, so both engines compute
  * bit-identical results.
  */
object OracleSql {

  /** Mirror of [[TextFunctions.tokens]] over `documents`. */
  val toksCte: String =
    """toks AS (
      |  SELECT doc_id, lang, text,
      |    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
      |         ELSE string_split_regex(trim(text), '\s+') END AS w
      |  FROM documents)""".stripMargin

  /** Mirror of [[Dedup.shingles]] (word k-grams, distinct). */
  def shinglesCte(k: Int): String = {
    val gram = (0 until k).map(o => if (o == 0) "w[i]" else s"w[i+$o]")
      .mkString(" || ' ' || ")
    s"""sh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(w) >= $k THEN
       |      list_distinct(list_transform(range(1, len(w) - ${k - 2}),
       |        i -> $gram))
       |    ELSE [array_to_string(w, ' ')] END AS s
       |  FROM toks)""".stripMargin
  }

  /** Mirror of [[TextFunctions.tokenHash60]]: md5 hex → bigint via
    * per-digit reduce (DuckDB has no base-16 conv).
    */
  def tokenHash(v: String): String =
    s"""list_reduce(list_transform(range(1, 16),
       |  i -> CAST(instr('0123456789abcdef', substr(md5($v), i, 1)) - 1 AS BIGINT)),
       |  (a, b) -> a * 16 + b)""".stripMargin

  /** Mirror of [[TextFunctions.simHash]] over a column `hs` of token
    * hashes: 60 per-bit vote terms.
    */
  val simHashExpr: String =
    (0 until TextFunctions.SimHashBits).map { j =>
      s"""CASE WHEN coalesce(list_sum(list_transform(hs,
         |  h -> CASE WHEN (h // ${1L << j}) % 2 = 1 THEN 1 ELSE -1 END)), 0) > 0
         |  THEN CAST(${1L << j} AS BIGINT) ELSE 0 END""".stripMargin
    }.mkString("(", " + ", ")")

  /** Marker-hit count over token list `w`. */
  def hitsExpr(markers: Seq[String]): String =
    markers.map(m => s"'$m'").mkString(
      "len(list_filter(w, t -> list_contains([", ", ", "], t)))")

  /** Mirror of [[Dedup.minHashSignature]] over token-hash list `hs`: the
    * 64 permuted minima. 31-bit modulus keeps every product in BIGINT;
    * empty lists get the neutral all-p signature like the Spark fold.
    */
  val minHashSigExpr: String =
    (0 until Dedup.NumHashes).map { i =>
      s"""coalesce(list_min(list_transform(hs, x ->
         |  (${Dedup.HashA(i)} * (x % ${Dedup.MinHashP}) + ${Dedup.HashB(i)})
         |    % ${Dedup.MinHashP})), ${Dedup.MinHashP})""".stripMargin
    }.mkString("[", ",\n", "]")

  /** Mirror of [[VectorFunctions.dot]]: strict left-fold double dot of
    * two FLOAT[] columns of the given dimension.
    */
  def dotExpr(a: String, b: String, dim: Int = VectorFunctions.Dim): String =
    s"""list_reduce(list_transform(range(1, ${dim + 1}),
       |  i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x, y) -> x + y)""".stripMargin

  /** Mirror of [[VectorFunctions.cosine]]. */
  def cosineExpr(a: String, b: String): String =
    s"(${dotExpr(a, b)}) / (sqrt(${dotExpr(a, a)}) * sqrt(${dotExpr(b, b)}))"

  /** Unrolled Lloyd-iteration CTE chain replaying
    * [[graft.similarity.KMeans]] bit-for-bit (all-integer arithmetic):
    * `pts` (fixed-point points), `c0..c$iters` (centroids), `a1..a${iters+1}`
    * (assignments; `a${iters + 1}` is the final assignment against the
    * last centroids). Compose with `WITH $chain, ...`.
    */
  def kmeansCtes(k: Int, iters: Int): String =
    kmeansCtes(k.toString, iters)

  /** As [[kmeansCtes]], but `k` is an arbitrary SQL expression for the
    * seed count — e.g. a subquery computing floor(sqrt(count(*))) so
    * the oracle's cluster count adapts to the corpus exactly as the
    * engine's does (trained-IVF default) — and `ptsWhere` optionally
    * restricts the TRAINING points (the streamed frozen-quantizer
    * rendering trains on batch 0 only). The chain is RE-ROOTABLE:
    * `src`/`idCol`/`vecCol`/`dim` point it at any earlier CTE carrying
    * (id, double-vector) rows — the cross-modal composition roots it at
    * the projected media tower instead of the embeddings table.
    */
  def kmeansCtes(k: String, iters: Int, ptsWhere: String = "",
      src: String = "embeddings", idCol: String = "vec_id",
      vecCol: String = "embedding",
      dim: Int = VectorFunctions.Dim): String = {
    import graft.similarity.KMeans.{Scale, Offset}
    val d1 = dim + 1
    def dist(p: String, c: String) =
      s"""CAST(list_sum(list_transform(range(1, $d1),
         |      d -> ($p[d] - $c[d]) * ($p[d] - $c[d]))) AS BIGINT)"""
        .stripMargin
    def asg(i: Int) =
      s"""a$i AS (SELECT vec_id, cid FROM (
         |  SELECT pts.vec_id, c${i - 1}.cid,
         |    row_number() OVER (PARTITION BY pts.vec_id
         |      ORDER BY ${dist("pts.p", s"c${i - 1}.c")}, c${i - 1}.cid)
         |      AS rn
         |  FROM pts, c${i - 1}) WHERE rn = 1)""".stripMargin
    def cent(i: Int) =
      s"""c$i AS (SELECT cid, list(cv ORDER BY dim) AS c FROM (
         |  SELECT cid, r.range AS dim,
         |    CAST(sum(p[r.range]) AS BIGINT) // count(*) AS cv
         |  FROM a$i JOIN pts USING (vec_id), range(1, $d1) r
         |  GROUP BY 1, 2) GROUP BY cid)""".stripMargin
    val rounds = (1 to iters).flatMap(i => Seq(asg(i), cent(i)))
      .mkString(",\n")
    val whereClause = if (ptsWhere.isEmpty) "" else s" WHERE $ptsWhere"
    s"""pts AS (SELECT $idCol AS vec_id, list_transform($vecCol,
       |    v -> CAST(floor((CAST(v AS DOUBLE) + $Offset) * $Scale)
       |      AS BIGINT)) AS p
       |  FROM $src$whereClause),
       |c0 AS (SELECT vec_id AS cid, p AS c FROM pts
       |  ORDER BY vec_id LIMIT $k),
       |$rounds,
       |${asg(iters + 1)}""".stripMargin
  }

  /** Unrolled replay of [[graft.similarity.MiniBatchKMeans]]: points
    * batch by `vec_id` range exactly as `StreamFlow.KeySlices`
    * slices them (step = (hi-lo)//n + 1, last slice open-ended — the
    * LEAST cap), seeds come from batch 0 alone, batch i assigns
    * against c{i-1}, and state s{i} accumulates (sum, count) per
    * (cid, dim). Final centroids = s{n} floor-divided.
    */
  def miniBatchKmeansCtes(k: Int, nBatches: Int): String = {
    import graft.similarity.KMeans.{Scale, Offset}
    val d1 = VectorFunctions.Dim + 1
    def dist(p: String, c: String) =
      s"""CAST(list_sum(list_transform(range(1, $d1),
         |      d -> ($p[d] - $c[d]) * ($p[d] - $c[d]))) AS BIGINT)"""
        .stripMargin
    def asg(i: Int) =
      s"""a$i AS (SELECT vec_id, cid FROM (
         |  SELECT bp.vec_id, c${i - 1}.cid,
         |    row_number() OVER (PARTITION BY bp.vec_id
         |      ORDER BY ${dist("bp.p", s"c${i - 1}.c")}, c${i - 1}.cid)
         |      AS rn
         |  FROM bp, c${i - 1} WHERE bp.b = ${i - 1}) WHERE rn = 1)"""
        .stripMargin
    def partial(i: Int, name: String) =
      s"""$name AS (SELECT cid, r.range AS dim,
         |  CAST(sum(p[r.range]) AS BIGINT) AS s, count(*) AS n
         |  FROM a$i JOIN pts USING (vec_id), range(1, $d1) r
         |  GROUP BY 1, 2)""".stripMargin
    def cent(i: Int) =
      s"""c$i AS (SELECT cid, list(s // n ORDER BY dim) AS c
         |  FROM s$i GROUP BY cid)""".stripMargin
    val rounds = (1 to nBatches).flatMap { i =>
      val stage =
        if (i == 1) Seq(asg(1), partial(1, "s1"))
        else Seq(asg(i), partial(i, s"p$i"),
          s"""s$i AS (SELECT cid, dim, CAST(sum(s) AS BIGINT) AS s,
             |  CAST(sum(n) AS BIGINT) AS n
             |  FROM (SELECT * FROM s${i - 1} UNION ALL
             |        SELECT * FROM p$i) GROUP BY 1, 2)""".stripMargin)
      if (i < nBatches) stage :+ cent(i) else stage
    }.mkString(",\n")
    s"""pts AS (SELECT vec_id, list_transform(embedding,
       |    v -> CAST(floor((CAST(v AS DOUBLE) + $Offset) * $Scale)
       |      AS BIGINT)) AS p
       |  FROM embeddings),
       |bb AS (SELECT min(vec_id) AS lo, max(vec_id) AS hi FROM pts),
       |bp AS (SELECT pts.vec_id, pts.p,
       |    LEAST(${nBatches - 1}, (pts.vec_id - bb.lo) //
       |      GREATEST(1, (bb.hi - bb.lo) // $nBatches + 1)) AS b
       |  FROM pts, bb),
       |c0 AS (SELECT vec_id AS cid, p AS c FROM bp WHERE b = 0
       |  ORDER BY vec_id LIMIT $k),
       |$rounds""".stripMargin
  }

  /** Mirror of [[VectorFunctions.planeBits]]: the 16-char sign-bit
    * signature of an embedding column.
    */
  def planeBitsExpr(v: String): String =
    (0 until VectorFunctions.NumPlanes).map { p =>
      val plane = VectorFunctions.planeSqlLiterals(p)
        .mkString("([", ", ", "]::DOUBLE[])")
      s"CASE WHEN (${dotExpr(v, plane)}) > 0 THEN '1' ELSE '0' END"
    }.mkString("concat(", ",\n", ")")
}
