package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.QuerySpec
import graft.functions.Vectors
import graft.sources.Tables

/** Similarity-search tier over the `embeddings` fixture (north-star
  * extension): brute-force cosine near-dup pairs and top-k nearest
  * neighbours, plus a sign-bucket LSH ANN variant and a table profile.
  *
  * Scale shapes: q26 is the exact baseline over a fixed-size calibration
  * sample (pair count constant in corpus size); q27 broadcasts the tiny
  * query set against the corpus — one scan, a per-query top-k window;
  * q28 is the 100 TB path — bucket equi-join prunes the corpus to one
  * LSH cell per query before scoring. All
  * cosine arithmetic is double-precision left-fold, bit-identical with
  * the DuckDB oracle (see [[graft.functions.Vectors]]).
  */
object SimilarityQueries {

  /** Exact cosine near-duplicate pairs (≥ 0.35) over a FIXED-SIZE
    * calibration sample — the 1024 lowest-id vectors. The exact all-pairs
    * computation is the ground truth every bucketed near-dup path is
    * calibrated against (q38's recall is measured vs exactly this), but
    * an unbounded self-join is a scale-killer, so the gate pins the
    * baseline to a sample whose pair count (≤ 1024²/2) is CONSTANT in
    * corpus size — at 100 TB you run precisely this: exact pairs on a
    * bounded sample to tune LSH bands, the bucketed q38 plan on the rest.
    */
  val embeddingNearDup: QuerySpec = QuerySpec.sql(
    "q26_embedding_neardup",
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 1024),
      |p AS (
      |  SELECT a.vec_id AS id1, b.vec_id AS id2,
      |         ${Vectors.cosineSql("a.embedding", "b.embedding")} AS cos
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id
      |    AND ${Vectors.normSql("a.embedding")} > 0
      |    AND ${Vectors.normSql("b.embedding")} > 0)
      |SELECT id1, id2, round(cos + 1e-9, 4) AS cosine
      |FROM p WHERE cos >= 0.35
      |ORDER BY id1, id2""".stripMargin
  ) { (spark, dir) =>
    // norms hoisted to one column per VECTOR (n sqrt-dots) instead of two
    // per PAIR (n² extra dots); cos = dot/(n1*n2) is the same expression
    // tree as Vectors.cosine, so values are bit-identical to the oracle
    val e = Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") < 1024)
      .select(col("vec_id"), col("embedding"),
        Vectors.norm(col("embedding")).as("nrm"))
    val cos = Vectors.dot(col("a.embedding"), col("b.embedding")) /
      (col("a.nrm") * col("b.nrm"))
    e.as("a").join(e.as("b"),
        col("a.vec_id") < col("b.vec_id") &&
          // zero-norm guard: Spark's x/0 is NULL, DuckDB's is inf/nan
          col("a.nrm") > 0 && col("b.nrm") > 0)
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        cos.as("cos"))
      .filter(col("cos") >= 0.35)
      .select(col("id1"), col("id2"),
        round(col("cos") + lit(1e-9), 4).as("cosine"))
      .orderBy(col("id1"), col("id2"))
  }

  /** Brute-force top-5 cosine neighbours for the 10 lowest-id vectors
    * (the query set). The query side is broadcast; ranking is a window
    * per query id with a deterministic tiebreak.
    */
  val knnTopK: QuerySpec = QuerySpec.sql(
    "q27_knn_topk",
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id, embedding FROM embeddings),
      |scored AS (
      |  SELECT qid, vec_id,
      |         ${Vectors.cosineSql("qv", "embedding")} AS cos,
      |         row_number() OVER (PARTITION BY qid
      |           ORDER BY ${Vectors.cosineSql("qv", "embedding")} DESC, vec_id) AS rk
      |  FROM q JOIN c ON qid <> vec_id
      |    AND ${Vectors.normSql("qv")} > 0 AND ${Vectors.normSql("embedding")} > 0)
      |SELECT qid, CAST(rk AS BIGINT) AS rank, vec_id AS neighbor,
      |       round(cos + 1e-9, 4) AS cosine
      |FROM scored WHERE rk <= 5
      |ORDER BY qid, rank""".stripMargin
  ) { (spark, dir) =>
    val e = Tables.load(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val scored = broadcast(q)
      .join(e, col("qid") =!= col("vec_id") &&
        Vectors.norm(col("qv")) > 0 && Vectors.norm(col("embedding")) > 0)
      .select(col("qid"), col("vec_id"),
        Vectors.cosine(col("qv"), col("embedding")).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= 5)
    scored.select(col("qid"), col("rk").cast("long").as("rank"),
        col("vec_id").as("neighbor"),
        round(col("cos") + lit(1e-9), 4).as("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  /** LSH-bucketed ANN: corpus and queries hashed to a 256-cell
    * sign-bucket (first 8 component signs); each query scores ONLY its
    * own cell — the IVF/LSH pruning pattern — then takes top-3.
    */
  val lshAnn: QuerySpec = QuerySpec.sql(
    "q28_lsh_ann",
    s"""WITH e AS (
      |  SELECT vec_id, embedding,
      |         ${Vectors.signBucketSql("embedding", 8)} AS bucket
      |  FROM embeddings),
      |q AS (SELECT vec_id AS qid, embedding AS qv, bucket FROM e WHERE vec_id < 10),
      |scored AS (
      |  SELECT qid, e.vec_id,
      |         ${Vectors.cosineSql("qv", "e.embedding")} AS cos,
      |         row_number() OVER (PARTITION BY qid
      |           ORDER BY ${Vectors.cosineSql("qv", "e.embedding")} DESC, e.vec_id) AS rk
      |  FROM q JOIN e ON q.bucket = e.bucket AND qid <> e.vec_id
      |    AND ${Vectors.normSql("qv")} > 0 AND ${Vectors.normSql("e.embedding")} > 0)
      |SELECT qid, CAST(rk AS BIGINT) AS rank, vec_id AS neighbor,
      |       round(cos + 1e-9, 4) AS cosine
      |FROM scored WHERE rk <= 3
      |ORDER BY qid, rank""".stripMargin
  ) { (spark, dir) =>
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        Vectors.signBucket("embedding", 8).as("bucket"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("bucket"))
    // q derives from e — alias both sides so the bucket equality resolves
    // across the join instead of degenerating to a same-attribute compare
    val scored = broadcast(q.as("q"))
      .join(e.as("e"),
        col("q.bucket") === col("e.bucket") && col("qid") =!= col("vec_id") &&
          Vectors.norm(col("qv")) > 0 && Vectors.norm(col("e.embedding")) > 0)
      .select(col("qid"), col("vec_id"),
        Vectors.cosine(col("qv"), col("embedding")).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= 3)
    scored.select(col("qid"), col("rk").cast("long").as("rank"),
        col("vec_id").as("neighbor"),
        round(col("cos") + lit(1e-9), 4).as("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Embedding-table profile: per label, vector count, norm stats, and
    * LSH-bucket spread — the sanity scan before any ANN build.
    */
  val embeddingProfile: QuerySpec = QuerySpec.sql(
    "q29_embedding_profile",
    s"""SELECT label,
      |  count(*) AS n_vectors,
      |  CAST(count(DISTINCT ${Vectors.signBucketSql("embedding", 8)}) AS BIGINT) AS n_buckets,
      |  ${graft.functions.Stable.avg4Sql(Vectors.normSql("embedding"))} AS avg_norm,
      |  round(min(${Vectors.normSql("embedding")}) + 1e-9, 4) AS min_norm,
      |  round(max(${Vectors.normSql("embedding")}) + 1e-9, 4) AS max_norm
      |FROM embeddings
      |GROUP BY label
      |ORDER BY label""".stripMargin
  ) { (spark, dir) =>
    Tables.load(spark, dir, "embeddings")
      .select(col("label"),
        Vectors.signBucket("embedding", 8).as("bucket"),
        Vectors.norm(col("embedding")).as("nrm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        countDistinct(col("bucket")).as("n_buckets"),
        graft.functions.Stable.avg4(col("nrm")).as("avg_norm"),
        round(min(col("nrm")) + lit(1e-9), 4).as("min_norm"),
        round(max(col("nrm")) + lit(1e-9), 4).as("max_norm"))
      .orderBy(col("label"))
  }

  /** LSH-bucketed embedding near-dup — the scale path for q26: candidate
    * pairs come from a bucket equi-self-join (each vector compares only
    * within its 256-cell sign bucket), then exact cosine verifies. At 10B
    * vectors candidate cost tracks bucket occupancy, not n².
    */
  val lshNearDup: QuerySpec = QuerySpec.sql(
    "q38_lsh_neardup",
    s"""WITH e AS (
      |  SELECT vec_id, embedding, ${Vectors.normSql("embedding")} AS nrm,
      |         ${Vectors.signBucketSql("embedding", 8)} AS bucket
      |  FROM embeddings),
      |p AS (
      |  SELECT a.vec_id AS id1, b.vec_id AS id2,
      |         ${Vectors.dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
      |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      |    AND a.nrm > 0 AND b.nrm > 0)
      |SELECT id1, id2, round(cos + 1e-9, 4) AS cosine
      |FROM p WHERE cos >= 0.3
      |ORDER BY id1, id2""".stripMargin
  ) { (spark, dir) =>
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        Vectors.norm(col("embedding")).as("nrm"),
        Vectors.signBucket("embedding", 8).as("bucket"))
    val cos = Vectors.dot(col("a.embedding"), col("b.embedding")) /
      (col("a.nrm") * col("b.nrm"))
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id") &&
          col("a.nrm") > 0 && col("b.nrm") > 0)
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        cos.as("cos"))
      .filter(col("cos") >= 0.3)
      .select(col("id1"), col("id2"),
        round(col("cos") + lit(1e-9), 4).as("cosine"))
      .orderBy(col("id1"), col("id2"))
  }

  /** Unrolled-Lloyd DuckDB oracle for [[graft.operators.IvfAnn]]: because
    * the operator is deterministic end-to-end (lowest-id seeding,
    * decimal-exact centroid means cast double→float, argmin ties toward
    * the lower cell, double left-fold dots), a FIXED iteration count can
    * be written out as a CTE chain — assignment (argmin over the centroid
    * table) then update (per-(cell,dim) decimal mean) per iteration — and
    * the whole trained index, probe set, and final top-k hash-match the
    * Spark run bit-for-bit.
    */
  /** Coarse-quantizer CTE chain shared by q58 and q85: seeds (`c0`) →
    * unrolled Lloyd iterations (`a_i`/`m_i`/`c_i`) → final corpus
    * assignment (`af`) → per-query probe cells (`probes`). Assumes a
    * `corpus(vec_id, embedding)` CTE is already in scope.
    */
  private def coarseCtes(clusters: Int, nProbe: Int, iters: Int, dim: Int,
      nQueries: Int): String = {
    import Vectors.dotSql
    // argmin cell per corpus vector against centroid CTE `cents`
    def assign(name: String, cents: String) =
      s"""$name AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT v.vec_id, c.cell,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY c.cnorm2 - 2.0 * ${dotSql("v.embedding", "c.cvec")}, c.cell) AS rk
        |    FROM corpus v CROSS JOIN $cents c) t WHERE rk = 1)""".stripMargin
    // recompute centroids as the decimal-exact per-dimension mean of `asg`
    def update(i: Int, asg: String) =
      s"""m$i AS (
        |  SELECT a.cell, i.i AS pos,
        |    CAST(CAST(sum(CAST(v.embedding[i.i] AS DECIMAL(28,10))) AS DOUBLE)
        |      / count(*) AS FLOAT) AS m
        |  FROM $asg a JOIN corpus v USING (vec_id)
        |  CROSS JOIN range(1, ${dim + 1}) i(i)
        |  GROUP BY a.cell, i.i),
        |c$i AS (
        |  SELECT cell, list(m ORDER BY pos) AS cvec FROM m$i GROUP BY cell),
        |c${i}n AS (
        |  SELECT cell, cvec, ${dotSql("cvec", "cvec")} AS cnorm2 FROM c$i)""".stripMargin
    val lloyd = (1 to iters).map { i =>
      assign(s"a$i", s"c${i - 1}n") + ",\n" + update(i, s"a$i")
    }.mkString(",\n")
    s"""c0 AS (
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) AS cell,
      |         embedding AS cvec
      |  FROM (SELECT * FROM corpus ORDER BY vec_id LIMIT $clusters) s),
      |c0n AS (
      |  SELECT cell, cvec, ${dotSql("cvec", "cvec")} AS cnorm2 FROM c0),
      |$lloyd,
      |${assign("af", s"c${iters}n")},
      |probes AS (
      |  SELECT qid, cell, CAST(rk AS INT) AS probe_rank FROM (
      |    SELECT v.vec_id AS qid, c.cell,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY c.cnorm2 - 2.0 * ${dotSql("v.embedding", "c.cvec")}, c.cell) AS rk
      |    FROM corpus v CROSS JOIN c${iters}n c
      |    WHERE v.vec_id < $nQueries) t WHERE rk <= $nProbe)""".stripMargin
  }

  private def ivfOracleSql(clusters: Int, nProbe: Int, iters: Int, k: Int,
      dim: Int, nQueries: Int,
      corpusCte: String = "SELECT vec_id, embedding FROM embeddings",
      scoredPred: String = ""): String = {
    import Vectors.{dotSql, normSql}
    s"""WITH corpus AS ($corpusCte),
      |${coarseCtes(clusters, nProbe, iters, dim, nQueries)},
      |scored AS (
      |  SELECT p.qid, v.vec_id AS neighbor,
      |    ${dotSql("q.embedding", "v.embedding")}
      |      / (${normSql("q.embedding")} * ${normSql("v.embedding")}) AS cos
      |  FROM probes p
      |  JOIN corpus q ON q.vec_id = p.qid
      |  JOIN af f ON f.cell = p.cell
      |  JOIN corpus v ON v.vec_id = f.vec_id
      |  WHERE v.vec_id <> p.qid
      |    AND ${normSql("q.embedding")} > 0 AND ${normSql("v.embedding")} > 0
      |    $scoredPred)
      |SELECT qid, neighbor, round(cos + 1e-9, 4) AS cosine
      |FROM (SELECT *, row_number() OVER (PARTITION BY qid
      |        ORDER BY cos DESC, neighbor) AS rk FROM scored) r
      |WHERE rk <= $k
      |ORDER BY qid, cosine DESC, neighbor""".stripMargin
  }

  /** IVF ANN ([[graft.operators.IvfAnn]]): deterministic k-means coarse
    * quantizer, nProbe-cell search, custom top-k ranking. The operator's
    * determinism contract makes even the TRAINING SQL-expressible: the
    * oracle unrolls both Lloyd iterations as CTEs (see [[ivfOracleSql]]),
    * so the full index build + search hash-matches in DuckDB. Recall vs
    * brute force is asserted separately in `IvfAnnSpec`.
    */
  val ivfAnn: QuerySpec = QuerySpec.sql(
    "q58_ivf_ann",
    ivfOracleSql(clusters = 16, nProbe = 4, iters = 2, k = 3, dim = 64,
      nQueries = 10)
  ) { (spark, dir) =>
    val corpus = Tables.load(spark, dir, "embeddings")
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    graft.operators.IvfAnn
      .search(corpus, "vec_id", "embedding", queries, "qid", "qv",
        k = 3, clusters = 16, nProbe = 4, iters = 2)
      .select(col("qid"), col("neighbor"),
        round(col("cosine") + lit(1e-9), 4).as("cosine"))
      .orderBy(col("qid"), col("cosine").desc, col("neighbor"))
  }

  /** IVF ANN against the ON-DISK cell-partitioned layout — q58's search
    * re-run through [[graft.operators.IvfAnn.writeIndex]] +
    * [[graft.operators.IvfAnn.searchIndex]]: the assigned corpus
    * is materialized hive-partitioned by cell, and the search's corpus
    * READ prunes to the probed cells' files (partition pruning,
    * file-set-asserted by `IvfCellLayoutSpec`), so I/O tracks
    * `nProbe / clusters` — the 10 B-vector deployment shape, where the
    * index layout (not compute) is what makes the probe affordable.
    * Training is deterministic (q58's contract), so the SAME
    * unrolled-Lloyd oracle gates the whole write → prune → scan → score
    * chain end-to-end: a hash-equal result proves the on-disk path
    * reproduces the in-memory search bit-for-bit.
    */
  val ivfAnnPartitioned: QuerySpec = QuerySpec.sql(
    "q104_ivf_partitioned",
    ivfOracleSql(clusters = 16, nProbe = 4, iters = 2, k = 3, dim = 64,
      nQueries = 10)
  ) { (spark, dir) =>
    // shared immutable full-corpus index (centroids + cell layout) —
    // probed READ-ONLY, so no clone
    val idx = SharedIndexes.ivfIndex(spark, dir, "full",
      clusters = 16, iters = 2)
    val queries = Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    graft.operators.IvfAnn
      .searchIndex(spark, idx, "vec_id", "embedding",
        queries, "qid", "qv", k = 3, nProbe = 4)
      .select(col("qid"), col("neighbor"),
        round(col("cosine") + lit(1e-9), 4).as("cosine"))
      .orderBy(col("qid"), col("cosine").desc, col("neighbor"))
  }

  /** Oracle for the append-maintenance gates (q107 batch, q119
    * streamed): training re-derived from the BASE slice, assignment and
    * probing over the FULL set — the end state of the layout is the
    * same however the delta arrived, so both gates share this SQL.
    */
  private def ivfAppendOracleSql(clusters: Int, nProbe: Int, iters: Int,
      k: Int, dim: Int, nQueries: Int): String = {
    import Vectors.{dotSql, normSql}
    s"""WITH corpus AS (
      |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0),
      |allv AS (SELECT vec_id, embedding FROM embeddings),
      |${coarseCtes(clusters, nProbe, iters, dim, nQueries)},
        |af_all AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT v.vec_id, c.cell,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY c.cnorm2 - 2.0 * ${dotSql("v.embedding", "c.cvec")}, c.cell) AS rk
        |    FROM allv v CROSS JOIN c${iters}n c) t WHERE rk = 1),
        |probes_all AS (
        |  SELECT qid, cell FROM (
        |    SELECT v.vec_id AS qid, c.cell,
        |      row_number() OVER (PARTITION BY v.vec_id
        |        ORDER BY c.cnorm2 - 2.0 * ${dotSql("v.embedding", "c.cvec")}, c.cell) AS rk
        |    FROM allv v CROSS JOIN c${iters}n c
        |    WHERE v.vec_id < $nQueries) t WHERE rk <= $nProbe),
        |scored AS (
        |  SELECT p.qid, v.vec_id AS neighbor,
        |    ${dotSql("q.embedding", "v.embedding")}
        |      / (${normSql("q.embedding")} * ${normSql("v.embedding")}) AS cos
        |  FROM probes_all p
        |  JOIN allv q ON q.vec_id = p.qid
        |  JOIN af_all f ON f.cell = p.cell
        |  JOIN allv v ON v.vec_id = f.vec_id
        |  WHERE v.vec_id <> p.qid
        |    AND ${normSql("q.embedding")} > 0 AND ${normSql("v.embedding")} > 0)
        |SELECT qid, neighbor, round(cos + 1e-9, 4) AS cosine
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |        ORDER BY cos DESC, neighbor) AS rk FROM scored) r
        |WHERE rk <= $k
        |ORDER BY qid, cosine DESC, neighbor""".stripMargin
  }

  /** Incremental IVF index maintenance — the day-2 story of the q104
    * layout: the quantizer is trained on the BASE corpus only (vectors
    * with `vec_id % 5 <> 0`), the base is written cell-partitioned, and
    * the remaining 20% arrive later as a DELTA batch absorbed by
    * [[graft.operators.IvfAnn.appendIndex]] — assigned to
    * their nearest EXISTING centroids and appended as new files under
    * the matching cell directories, O(|delta|) with zero corpus rewrite
    * and zero retraining. The search then runs over the combined layout
    * with queries drawn from BOTH generations (qids 0 and 5 are delta
    * vectors), proving appended vectors are immediately searchable and
    * indistinguishable from base ones. The oracle re-derives training
    * from the base slice and assignment/probing over the FULL set, so a
    * hash-equal result gates the append path end-to-end.
    */
  val ivfAppend: QuerySpec = {
    val (clusters, nProbe, iters, k, dim, nQueries) = (16, 4, 2, 3, 64, 10)
    QuerySpec.sql(
      "q107_ivf_append",
      ivfAppendOracleSql(clusters, nProbe, iters, k, dim, nQueries)
    ) { (spark, dir) =>
      val all0 = Tables.load(spark, dir, "embeddings")
      val delta = all0.filter(col("vec_id") % 5 === 0)
      // copy-on-write from the shared immutable base-slice index (this
      // gate appends the delta into its copy, under the stored quantizer)
      val path = graft.Scratch.cloneBase(
        SharedIndexes.ivfIndex(spark, dir, "base", clusters, iters),
        "q107_ivf")
      graft.operators.IvfAnn
        .appendIndex(delta, "vec_id", "embedding", path)
      val queries = all0.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.IvfAnn
        .searchIndex(spark, path, "vec_id", "embedding",
          queries, "qid", "qv", k = k, nProbe = nProbe)
        .select(col("qid"), col("neighbor"),
          round(col("cosine") + lit(1e-9), 4).as("cosine"))
        .orderBy(col("qid"), col("cosine").desc, col("neighbor"))
    }
  }

  /** STREAMED index maintenance — q107's append absorbed through a real
    * Structured Streaming ingest instead of one batch call: the delta
    * generation arrives as three AvailableNow micro-batches
    * (`maxFilesPerTrigger=1`) and each `foreachBatch` appends its rows
    * to the index via
    * [[graft.operators.IvfAnn.appendIndex]] — the
    * continuous-ingest shape a production vector index actually runs
    * (per-micro-batch O(batch) appends, never a rewrite). Appends
    * commute (each lands new files under its cells), so the layout's
    * end state is identical however the delta was sliced, and the SAME
    * unrolled-training oracle as q107 gates the streamed path: a
    * hash-equal search proves micro-batching changed nothing.
    */
  val ivfStreamAppend: QuerySpec = {
    val (clusters, nProbe, iters, k, dim, nQueries) = (16, 4, 2, 3, 64, 10)
    QuerySpec.sql(
      "q119_ivf_stream",
      ivfAppendOracleSql(clusters, nProbe, iters, k, dim, nQueries)
    ) { (spark, dir) =>
      val all0 = Tables.load(spark, dir, "embeddings")
      val root = graft.Scratch.fresh("q119")
      // copy-on-write from the shared immutable base-slice index (this
      // gate appends the streamed delta into its copy)
      val path = graft.Scratch.cloneBase(
        SharedIndexes.ivfIndex(spark, dir, "base", clusters, iters),
        "q119_ivf")
      // the delta replays as three REAL micro-batches
      graft.streaming.Replay.files(root,
        all0.filter(col("vec_id") % 5 === 0)
          .select(col("vec_id"), col("embedding"),
            pmod(hash(col("vec_id")), lit(3)).as("wave")),
        "wave", 3) { (batch, _) =>
        graft.operators.IvfAnn
          .appendIndex(batch, "vec_id", "embedding", path)
      }
      val queries = all0.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.IvfAnn
        .searchIndex(spark, path, "vec_id", "embedding",
          queries, "qid", "qv", k = k, nProbe = nProbe)
        .select(col("qid"), col("neighbor"),
          round(col("cosine") + lit(1e-9), 4).as("cosine"))
        .orderBy(col("qid"), col("cosine").desc, col("neighbor"))
    }
  }

  /** Int8-style embedding quantization + KNN over the quantized vectors —
    * the memory-side scale lever (4× smaller vectors, integer dot
    * products). Per-vector symmetric scale = max |component|; quantized
    * dots are EXACT integer arithmetic in both engines, so the oracle
    * hash-matches with no float-order caveats; only the final cosine
    * ratio is a (deterministic) double division.
    */
  val quantizedKnn: QuerySpec = QuerySpec.sql(
    "q59_quantized_knn",
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS s
      |  FROM embeddings),
      |qz AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) / s * 127 + 1e-9, 0) AS BIGINT)) AS q
      |  FROM base WHERE s > 0),
      |qn AS (
      |  SELECT vec_id, q,
      |    sqrt(CAST(list_sum(list_transform(q, v -> v * v)) AS DOUBLE)) AS nrm
      |  FROM qz),
      |pairs AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS neighbor,
      |    CAST(list_sum(list_transform(range(1, len(a.q) + 1),
      |      i -> a.q[i] * b.q[i])) AS DOUBLE) / (a.nrm * b.nrm) AS cosq
      |  FROM qn a JOIN qn b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY qid
      |    ORDER BY cosq DESC, neighbor) AS rk
      |  FROM pairs)
      |SELECT qid, CAST(rk AS BIGINT) AS rank, neighbor,
      |  round(cosq + 1e-9, 4) AS cosine_q
      |FROM ranked WHERE rk <= 3
      |ORDER BY qid, rank""".stripMargin
  ) { (spark, dir) =>
    val e = Tables.load(spark, dir, "embeddings")
    val base = e.select(col("vec_id"), col("embedding"))
      .withColumn("s",
        array_max(transform(col("embedding"), x => abs(x))).cast("double"))
      .filter(col("s") > 0)
    val qn = base
      .withColumn("q", transform(col("embedding"),
        x => round(x.cast("double") / col("s") * lit(127) + lit(1e-9), 0)
          .cast("long")))
      .select(col("vec_id"), col("q"),
        sqrt(aggregate(col("q"), lit(0L), (acc, v) => acc + v * v)
          .cast("double")).as("nrm"))
    val queries = qn.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("q").as("qq"),
        col("nrm").as("qnrm"))
    val pairs = broadcast(queries)
      .join(qn, col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("neighbor"),
        (aggregate(zip_with(col("qq"), col("q"), (x, y) => x * y),
          lit(0L), (acc, v) => acc + v).cast("double") /
          (col("qnrm") * col("nrm"))).as("cosq"))
    pairs
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cosq").desc, col("neighbor"))))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("rk").cast("long").as("rank"),
        col("neighbor"), round(col("cosq") + lit(1e-9), 4).as("cosine_q"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Unrolled DuckDB oracle for [[graft.operators.ProductQuantizer]] —
    * the q58 pattern keyed by (subspace, cell): slice → per-subspace
    * Lloyd iterations (argmin assignment + decimal-exact means) → encode
    * → ADC tables → per-pair distance as an m-ordered left-fold sum
    * (`list_sum(list(d ORDER BY m))`, the same fold-order contract
    * [[graft.functions.Vectors.dotSql]] relies on).
    */
  private def pqOracleSql(m: Int, dim: Int, codes: Int, iters: Int, k: Int,
      nQueries: Int): String = {
    pqOracleCore(m, dim, codes, iters, nQueries) +
      s"""
        |SELECT qid, neighbor, round(approx_dist + 1e-9, 4) AS approx_dist
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |        ORDER BY approx_dist, neighbor) AS rk FROM scored) r
        |WHERE rk <= $k
        |ORDER BY qid, approx_dist, neighbor""".stripMargin
  }

  /** [[pqOracleSql]]'s training/encode/ADC chain plus the exact re-rank:
    * ADC ranks a `refine·k` shortlist per query, then only those pairs'
    * FULL vectors are re-scored with the true squared L2 — the
    * [[graft.operators.ProductQuantizer.searchRefined]] contract.
    */
  private def pqRefinedOracleSql(m: Int, dim: Int, codes: Int, iters: Int,
      k: Int, refine: Int, nQueries: Int): String = {
    import Vectors.dotSql
    pqOracleCore(m, dim, codes, iters, nQueries) +
      s""",
        |shortlist AS (
        |  SELECT qid, neighbor FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid
        |      ORDER BY approx_dist, neighbor) AS rk FROM scored) r
        |  WHERE rk <= ${refine * k}),
        |exact AS (
        |  SELECT s.qid, s.neighbor,
        |    ${dotSql("q.embedding", "q.embedding")}
        |      + ${dotSql("v.embedding", "v.embedding")}
        |      - 2.0 * ${dotSql("q.embedding", "v.embedding")} AS dist2
        |  FROM shortlist s
        |  JOIN corpus q ON q.vec_id = s.qid
        |  JOIN corpus v ON v.vec_id = s.neighbor)
        |SELECT qid, neighbor, round(dist2 + 1e-9, 4) AS dist2
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |        ORDER BY dist2, neighbor) AS rk FROM exact) r
        |WHERE rk <= $k
        |ORDER BY qid, dist2, neighbor""".stripMargin
  }

  /** PQ training/encode/ADC CTE chain shared by q67/q83 and q85:
    * subvector slices (`subvecs`) → per-subspace unrolled Lloyd
    * (`pa_i`/`pm_i`/`p_i`) → corpus codes (`enc`) → per-query ADC
    * distance tables (`adc`). Assumes a `corpus(vec_id, embedding)` CTE
    * is already in scope.
    */
  private def pqCtes(m: Int, dim: Int, codes: Int, iters: Int,
      nQueries: Int, src: String = "corpus", vcol: String = "embedding"): String = {
    import Vectors.dotSql
    val sub = dim / m
    def assign(name: String, cents: String, outCol: String) =
      s"""$name AS (
        |  SELECT vec_id, m, cell AS $outCol FROM (
        |    SELECT v.vec_id, v.m, c.cell,
        |      row_number() OVER (PARTITION BY v.vec_id, v.m
        |        ORDER BY c.cnorm2 - 2.0 * ${dotSql("v.sv", "c.cvec")}, c.cell) AS rk
        |    FROM subvecs v JOIN $cents c ON v.m = c.m) t WHERE rk = 1)""".stripMargin
    def update(i: Int) =
      s"""pm$i AS (
        |  SELECT a.m, a.cell, i.i AS pos,
        |    CAST(CAST(sum(CAST(v.sv[i.i] AS DECIMAL(28,10))) AS DOUBLE)
        |      / count(*) AS FLOAT) AS mu
        |  FROM pa$i a JOIN subvecs v USING (vec_id, m)
        |  CROSS JOIN range(1, ${sub + 1}) i(i)
        |  GROUP BY a.m, a.cell, i.i),
        |p$i AS (
        |  SELECT m, cell, list(mu ORDER BY pos) AS cvec FROM pm$i
        |  GROUP BY m, cell),
        |p${i}n AS (
        |  SELECT m, cell, cvec, ${dotSql("cvec", "cvec")} AS cnorm2 FROM p$i)""".stripMargin
    val lloyd = (1 to iters).map { i =>
      assign(s"pa$i", s"p${i - 1}n", "cell") + ",\n" + update(i)
    }.mkString(",\n")
    s"""subvecs AS (
      |  SELECT vec_id, s.m AS m,
      |    list_slice($vcol, s.m * $sub + 1, s.m * $sub + $sub) AS sv
      |  FROM $src CROSS JOIN range(0, $m) s(m)),
      |seeds AS (
      |  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) AS INT) AS cell
      |  FROM (SELECT vec_id FROM $src ORDER BY vec_id LIMIT $codes) z),
      |p0 AS (
      |  SELECT sv.m, s.cell, sv.sv AS cvec
      |  FROM seeds s JOIN subvecs sv USING (vec_id)),
      |p0n AS (
      |  SELECT m, cell, cvec, ${dotSql("cvec", "cvec")} AS cnorm2 FROM p0),
      |$lloyd,
      |${assign("enc", s"p${iters}n", "code")},
      |adc AS (
      |  SELECT v.vec_id AS qid, v.m, c.cell,
      |    ${dotSql("v.sv", "v.sv")} + c.cnorm2
      |      - 2.0 * ${dotSql("v.sv", "c.cvec")} AS d
      |  FROM subvecs v JOIN p${iters}n c ON v.m = c.m
      |  WHERE v.vec_id < $nQueries)""".stripMargin
  }

  private def pqOracleCore(m: Int, dim: Int, codes: Int, iters: Int,
      nQueries: Int): String =
    s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
      |${pqCtes(m, dim, codes, iters, nQueries)},
      |scored AS (
      |  SELECT a.qid, e.vec_id AS neighbor,
      |    list_sum(list(a.d ORDER BY a.m)) AS approx_dist
      |  FROM enc e JOIN adc a ON a.m = e.m AND a.cell = e.code
      |  WHERE a.qid <> e.vec_id
      |  GROUP BY a.qid, e.vec_id)""".stripMargin

  /** The q85 oracle: the [[coarseCtes]] coarse-quantizer chain and the
    * [[pqCtes]] PQ chain share one corpus; scoring joins a corpus row's
    * codes ONLY when its coarse cell is among the query's probes — the
    * composed IVF+PQ contract ([[graft.operators.IvfPq]]).
    */
  private def ivfPqOracleSql(clusters: Int, nProbe: Int, coarseIters: Int,
      m: Int, dim: Int, codes: Int, pqIters: Int, k: Int,
      nQueries: Int): String =
    s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
      |${coarseCtes(clusters, nProbe, coarseIters, dim, nQueries)},
      |${pqCtes(m, dim, codes, pqIters, nQueries)},
      |scored AS (
      |  SELECT a.qid, e.vec_id AS neighbor,
      |    list_sum(list(a.d ORDER BY a.m)) AS approx_dist
      |  FROM enc e
      |  JOIN af f ON f.vec_id = e.vec_id
      |  JOIN probes p ON p.cell = f.cell
      |  JOIN adc a ON a.qid = p.qid AND a.m = e.m AND a.cell = e.code
      |  WHERE a.qid <> e.vec_id
      |  GROUP BY a.qid, e.vec_id)
      |SELECT qid, neighbor, round(approx_dist + 1e-9, 4) AS approx_dist
      |FROM (SELECT *, row_number() OVER (PARTITION BY qid
      |        ORDER BY approx_dist, neighbor) AS rk FROM scored) r
      |WHERE rk <= $k
      |ORDER BY qid, approx_dist, neighbor""".stripMargin

  /** Product-quantization ADC search ([[graft.operators.ProductQuantizer]]
    * — per-subspace codebooks, 32× vector compression, distance-table
    * lookups instead of float dot products). Like q58, the operator's
    * determinism contract makes the whole pipeline SQL-expressible: the
    * oracle ([[pqOracleSql]]) unrolls the joint subspace training and
    * replays encode + ADC scoring, so codebooks, codes, and distances
    * hash-match in DuckDB. Recall is asserted in `ProductQuantizerSpec`.
    */
  val pqAnn: QuerySpec = QuerySpec.sql(
    "q67_pq_ann",
    pqOracleSql(m = 8, dim = 64, codes = 16, iters = 1, k = 3, nQueries = 10)
  ) { (spark, dir) =>
    val corpus = Tables.load(spark, dir, "embeddings")
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    graft.operators.ProductQuantizer
      .search(corpus, "vec_id", "embedding", queries, "qid", "qv",
        // one refinement pass over the deterministic seeds: the
        // gate-scale setting (each extra Lloyd pass is a full corpus
        // scan; production sizing raises it with the corpus)
        k = 3, m = 8, dim = 64, codes = 16, iters = 1)
      .select(col("qid"), col("neighbor"),
        round(col("approx_dist") + lit(1e-9), 4).as("approx_dist"))
      .orderBy(col("qid"), col("approx_dist"), col("neighbor"))
  }

  /** PQ shortlist → exact re-rank
    * ([[graft.operators.ProductQuantizer.searchRefined]]) — the
    * production ANN composition: the ADC codes-only scan prunes the
    * corpus to `refine·k` candidates per query, and only those rows'
    * full vectors are fetched and re-scored with the true squared L2, so
    * quantization error affects which candidates make the shortlist but
    * never their final order. Same determinism contract as q67, so the
    * oracle ([[pqRefinedOracleSql]]) replays the whole composition —
    * training, encode, ADC shortlist, exact re-rank — and hash-matches.
    */
  val pqRefined: QuerySpec = QuerySpec.sql(
    "q83_pq_refined",
    pqRefinedOracleSql(m = 8, dim = 64, codes = 16, iters = 1, k = 3,
      refine = 4, nQueries = 10)
  ) { (spark, dir) =>
    val corpus = Tables.load(spark, dir, "embeddings")
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    graft.operators.ProductQuantizer
      .searchRefined(corpus, "vec_id", "embedding", queries, "qid", "qv",
        k = 3, m = 8, dim = 64, codes = 16, iters = 1, refine = 4)
      .select(col("qid"), col("neighbor"),
        round(col("dist2") + lit(1e-9), 4).as("dist2"))
      .orderBy(col("qid"), col("dist2"), col("neighbor"))
  }

  /** Composed IVF + PQ ([[graft.operators.IvfPq]]) — the production
    * 10 B-vector index shape: coarse cells prune candidates to `nProbe /
    * clusters` of the corpus, PQ codes score them by ADC lookups, one
    * corpus projection computes both. The oracle ([[ivfPqOracleSql]])
    * replays both unrolled trainings over one shared corpus CTE and
    * restricts scoring to probed cells, so the entire composition
    * hash-matches in DuckDB.
    */
  val ivfPqAnn: QuerySpec = QuerySpec.sql(
    "q85_ivfpq_ann",
    ivfPqOracleSql(clusters = 16, nProbe = 4, coarseIters = 1,
      m = 8, dim = 64, codes = 16, pqIters = 1, k = 3, nQueries = 10)
  ) { (spark, dir) =>
    val corpus = Tables.load(spark, dir, "embeddings")
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    graft.operators.IvfPq
      .search(corpus, "vec_id", "embedding", queries, "qid", "qv",
        k = 3, clusters = 16, nProbe = 4, m = 8, dim = 64, codes = 16,
        coarseIters = 1, pqIters = 1)
      .select(col("qid"), col("neighbor"),
        round(col("approx_dist") + lit(1e-9), 4).as("approx_dist"))
      .orderBy(col("qid"), col("approx_dist"), col("neighbor"))
  }

  /** The RAG retrieval shape: vector search over `embeddings` joined
    * back to `documents` for the neighbor's PAYLOAD (id, token count,
    * snippet) — two stages with opposite layouts at scale: scoring
    * touches only the packed vector store; payload fetch is a hash
    * join on ids that moves just the k·queries winning rows to the much
    * wider document table, never the reverse. vec_id and doc_id share
    * the id domain in the fixture (the "embedding of document i" link).
    */
  val retrieveDocs: QuerySpec = QuerySpec.sql(
    "q70_retrieve_docs",
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id, embedding FROM embeddings),
      |scored AS (
      |  SELECT qid, vec_id,
      |         ${Vectors.cosineSql("qv", "embedding")} AS cos,
      |         row_number() OVER (PARTITION BY qid
      |           ORDER BY ${Vectors.cosineSql("qv", "embedding")} DESC, vec_id) AS rk
      |  FROM q JOIN c ON qid <> vec_id
      |    AND ${Vectors.normSql("qv")} > 0 AND ${Vectors.normSql("embedding")} > 0),
      |top AS (SELECT qid, vec_id, cos, rk FROM scored WHERE rk <= 3)
      |SELECT qid, CAST(rk AS BIGINT) AS rank, vec_id AS neighbor,
      |  round(cos + 1e-9, 4) AS cosine,
      |  CAST(len(list_filter(regexp_split_to_array(lower(d.text), '\\s+'), t -> t != '')) AS BIGINT) AS n_tokens,
      |  substr(d.text, 1, 40) AS snippet
      |FROM top JOIN documents d ON top.vec_id = d.doc_id
      |ORDER BY qid, rank""".stripMargin
  ) { (spark, dir) =>
    val e = Tables.load(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val top = broadcast(q)
      .join(e, col("qid") =!= col("vec_id") &&
        Vectors.norm(col("qv")) > 0 && Vectors.norm(col("embedding")) > 0)
      .select(col("qid"), col("vec_id"),
        Vectors.cosine(col("qv"), col("embedding")).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= 3)
    val docs = Tables.load(spark, dir, "documents")
    top.join(docs, top("vec_id") === docs("doc_id"))
      .select(col("qid"), col("rk").cast("long").as("rank"),
        col("vec_id").as("neighbor"),
        round(col("cos") + lit(1e-9), 4).as("cosine"),
        size(graft.functions.Text.tokens(col("text"))).cast("long")
          .as("n_tokens"),
        substring(col("text"), 1, 40).as("snippet"))
      .orderBy(col("qid"), col("rank"))
  }

  /** The calibration loop q26 exists for, as a query: on the bounded
    * sample, compute exact near-dup pairs (ground truth) and the
    * sign-bucket LSH candidate pairs at the SAME threshold, and report
    * the LSH path's recall — candidates are a subset of truth (both
    * score exact cosine; LSH only prunes), so recall = |lsh| / |exact|.
    * At 100 TB this one number is how you pick bucket bits before
    * running q38 over the full corpus.
    *
    * On the NEAR-RANDOM fixture the instrument correctly reads low
    * (~3%: random vectors have no locality, so axis-aligned sign buckets
    * rarely co-locate near-dup pairs) — which is precisely the signal
    * that would send a practitioner to fewer bits, multi-probe, or the
    * MinHash path (q24's banding is calibrated the same way). On
    * clustered corpora the same instrument reads high
    * (`IvfAnnSpec`/`ProductQuantizerSpec`'s clustered fixtures).
    */
  val nearDupRecall: QuerySpec = QuerySpec.sql(
    "q88_neardup_recall",
    s"""WITH e AS (
      |  SELECT vec_id, embedding, ${Vectors.normSql("embedding")} AS nrm,
      |         ${Vectors.signBucketSql("embedding", 8)} AS bucket
      |  FROM embeddings WHERE vec_id < 1024),
      |exact_pairs AS (
      |  SELECT a.vec_id AS id1, b.vec_id AS id2
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id
      |    AND a.nrm > 0 AND b.nrm > 0
      |  WHERE ${Vectors.dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.35),
      |lsh_pairs AS (
      |  SELECT a.vec_id AS id1, b.vec_id AS id2
      |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      |    AND a.nrm > 0 AND b.nrm > 0
      |  WHERE ${Vectors.dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.35)
      |SELECT
      |  (SELECT count(*) FROM exact_pairs) AS n_exact,
      |  (SELECT count(*) FROM lsh_pairs) AS n_lsh,
      |  round(CAST((SELECT count(*) FROM lsh_pairs) AS DOUBLE)
      |    / (SELECT count(*) FROM exact_pairs) + 1e-9, 4) AS recall""".stripMargin
  ) { (spark, dir) =>
    val e = Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") < 1024)
      .select(col("vec_id"), col("embedding"),
        Vectors.norm(col("embedding")).as("nrm"),
        Vectors.signBucket("embedding", 8).as("bucket"))
      .transform(graft.CacheScope.cache)
    val cos = Vectors.dot(col("a.embedding"), col("b.embedding")) /
      (col("a.nrm") * col("b.nrm"))
    def pairs(extraCond: org.apache.spark.sql.Column) = e.as("a")
      .join(e.as("b"),
        col("a.vec_id") < col("b.vec_id") &&
          col("a.nrm") > 0 && col("b.nrm") > 0 && extraCond)
      .filter(cos >= 0.35)
      .agg(count(lit(1)).as("n"))
    pairs(lit(true)).select(col("n").as("n_exact"))
      .crossJoin(pairs(col("a.bucket") === col("b.bucket"))
        .select(col("n").as("n_lsh")))
      .select(col("n_exact"), col("n_lsh"),
        round(col("n_lsh").cast("double") / col("n_exact") + lit(1e-9), 4)
          .as("recall"))
  }

  /** The q88 calibration for the OTHER index family: IVF recall@k as a
    * function of `nProbe` ([[graft.operators.IvfAnn.recallSweep]]) on
    * the bounded query sample, against brute-force ground truth. At
    * 100 TB this curve — trained once, one candidate join at the widest
    * sweep point — is how `nProbe` is picked before a full-corpus run:
    * the fraction of true neighbours a probe budget keeps, per budget.
    * The oracle unrolls the same deterministic training
    * ([[coarseCtes]]) and replays the sweep as a lateral rank filter.
    */
  val ivfRecall: QuerySpec = {
    import Vectors.{dotSql, normSql}
    val (clusters, iters, dim, nQueries, k) = (16, 2, 64, 10, 3)
    val nProbes = Seq(1, 2, 4)
    QuerySpec.sql(
      "q89_ivf_recall",
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
        |${coarseCtes(clusters, nProbes.max, iters, dim, nQueries)},
        |gt AS (
        |  SELECT qid, neighbor FROM (
        |    SELECT q.vec_id AS qid, v.vec_id AS neighbor,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY ${dotSql("q.embedding", "v.embedding")}
        |          / (${normSql("q.embedding")} * ${normSql("v.embedding")}) DESC,
        |          v.vec_id) AS rk
        |    FROM corpus q JOIN corpus v
        |      ON q.vec_id < $nQueries AND v.vec_id <> q.vec_id
        |    WHERE ${normSql("q.embedding")} > 0 AND ${normSql("v.embedding")} > 0) t
        |  WHERE rk <= $k),
        |cand AS (
        |  SELECT p.qid, p.probe_rank, v.vec_id AS neighbor,
        |    ${dotSql("q.embedding", "v.embedding")}
        |      / (${normSql("q.embedding")} * ${normSql("v.embedding")}) AS cos
        |  FROM probes p
        |  JOIN corpus q ON q.vec_id = p.qid
        |  JOIN af f ON f.cell = p.cell
        |  JOIN corpus v ON v.vec_id = f.vec_id
        |  WHERE v.vec_id <> p.qid
        |    AND ${normSql("q.embedding")} > 0 AND ${normSql("v.embedding")} > 0),
        |sweep(n_probe) AS (VALUES ${nProbes.map(p => s"($p)").mkString(", ")}),
        |ivf AS (
        |  SELECT n_probe, qid, neighbor FROM (
        |    SELECT s.n_probe, c.qid, c.neighbor,
        |      row_number() OVER (PARTITION BY s.n_probe, c.qid
        |        ORDER BY c.cos DESC, c.neighbor) AS rk
        |    FROM sweep s JOIN cand c ON c.probe_rank <= s.n_probe) t
        |  WHERE rk <= $k),
        |hits AS (
        |  SELECT i.n_probe, count(*) AS hits
        |  FROM ivf i JOIN gt g ON g.qid = i.qid AND g.neighbor = i.neighbor
        |  GROUP BY i.n_probe),
        |tot AS (SELECT count(*) AS n_truth FROM gt)
        |SELECT s.n_probe, CAST(n_truth AS BIGINT) AS n_truth,
        |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
        |  round(CAST(coalesce(h.hits, 0) AS DOUBLE) / n_truth + 1e-9, 4)
        |    AS recall
        |FROM sweep s CROSS JOIN tot
        |LEFT JOIN hits h ON h.n_probe = s.n_probe
        |ORDER BY s.n_probe""".stripMargin
    ) { (spark, dir) =>
      graft.operators.IvfAnn.recallSweep(
        Tables.load(spark, dir, "embeddings"), "vec_id", "embedding",
        nQueries = nQueries, k = k, clusters = clusters, nProbes = nProbes,
        iters = iters)
    }
  }

  private def semanticDedupOracleSql(clusters: Int, iters: Int, dim: Int,
      tau: Double): String = {
    import Vectors.{dotSql, normSql}
    // coarseCtes' probes CTE is unused here (harmless) — reusing the
    // helper keeps the unrolled-Lloyd training byte-identical to q58/q104
    s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
      |${coarseCtes(clusters, 1, iters, dim, 1)},
      |e AS (
      |  SELECT f.vec_id, f.cell, v.embedding,
      |         ${normSql("v.embedding")} AS nrm
      |  FROM af f JOIN corpus v USING (vec_id)),
      |drops AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |    AND a.nrm > 0 AND b.nrm > 0
      |  WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= $tau)
      |SELECT e.vec_id, e.cell, d.vec_id IS NULL AS kept
      |FROM e LEFT JOIN drops d USING (vec_id)
      |ORDER BY e.vec_id""".stripMargin
  }

  /** Cell-scoped semantic dedup ([[graft.operators.SemanticDedup]] — the
    * SemDeDup shape): IVF-quantize the corpus, near-dup compare only
    * WITHIN each k-means cell, keep the lowest-id representative per
    * neighborhood. Pairwise work is Σ n_c² (adaptive cells) instead of
    * the n² exact pass, and the whole manifest is one shuffle-by-cell;
    * the deterministic trainer makes the full chain — train, assign,
    * scope, prune — SQL-expressible, so the oracle replays BOTH Lloyd
    * iterations (the q58 pattern) and the per-vector kept/dropped
    * manifest hash-matches end-to-end.
    */
  val semanticDedup: QuerySpec = QuerySpec.sql(
    "q114_semantic_dedup",
    semanticDedupOracleSql(clusters = 16, iters = 2, dim = 64, tau = 0.35)
  ) { (spark, dir) =>
    val corpus = Tables.load(spark, dir, "embeddings")
    graft.operators.SemanticDedup
      .manifest(corpus, "vec_id", "embedding",
        clusters = 16, iters = 2, tau = 0.35)
      .orderBy(col("vec_id"))
  }

  private def ivfDriftOracleSql(clusters: Int, iters: Int,
      dim: Int): String = {
    import Vectors.dotSql
    import graft.functions.Stable.avg4Sql
    // trains on the base slice (corpus CTE) exactly like q107; the
    // probes CTE inside coarseCtes is unused here
    s"""WITH corpus AS (
      |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0),
      |allv AS (SELECT vec_id, embedding FROM embeddings),
      |${coarseCtes(clusters, 1, iters, dim, 1)},
      |asg AS (
      |  SELECT vec_id, gen, cell FROM (
      |    SELECT v.vec_id,
      |      CASE WHEN v.vec_id % 5 = 0 THEN 'delta' ELSE 'base' END AS gen,
      |      c.cell,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY c.cnorm2 - 2.0 * ${dotSql("v.embedding", "c.cvec")}, c.cell) AS rk
      |    FROM allv v CROSS JOIN c${iters}n c) t WHERE rk = 1),
      |d AS (
      |  SELECT a.gen, a.cell,
      |    c.cnorm2 - 2.0 * ${dotSql("v.embedding", "c.cvec")}
      |      + ${dotSql("v.embedding", "v.embedding")} AS d2
      |  FROM asg a
      |  JOIN allv v USING (vec_id)
      |  JOIN c${iters}n c ON c.cell = a.cell),
      |g AS (
      |  SELECT cell,
      |    CAST(count(CASE WHEN gen = 'base' THEN 1 END) AS BIGINT) AS n_base,
      |    CAST(count(CASE WHEN gen = 'delta' THEN 1 END) AS BIGINT) AS n_delta,
      |    ${avg4Sql("CASE WHEN gen = 'base' THEN d2 END")} AS base_d2,
      |    ${avg4Sql("CASE WHEN gen = 'delta' THEN d2 END")} AS delta_d2
      |  FROM d GROUP BY cell)
      |SELECT cell, n_base, n_delta, base_d2, delta_d2,
      |  CASE WHEN base_d2 > 0
      |       THEN round(delta_d2 / base_d2 + 1e-9, 4) END AS drift
      |FROM g ORDER BY cell""".stripMargin
  }

  /** IVF index-staleness report ([[graft.operators.IvfAnn.driftReport]])
    * — the WHEN-to-retrain signal completing the maintenance loop
    * (q107 appends without retraining, `compactIndex` defragments):
    * train on the base generation, assign base AND appended delta to
    * cells, report per-cell mean squared centroid distance by
    * generation and their ratio. One corpus scan + a broadcast centroid
    * join + a map-side-combinable aggregate; the deterministic trainer
    * makes the whole report oracle-checkable (unrolled-Lloyd CTEs, the
    * distance algebra replayed verbatim).
    */
  val ivfDrift: QuerySpec = QuerySpec.sql(
    "q117_ivf_drift",
    ivfDriftOracleSql(clusters = 16, iters = 2, dim = 64)
  ) { (spark, dir) =>
    val all0 = graft.CacheScope.cache(Tables.load(spark, dir, "embeddings"))
    val base = all0.filter(col("vec_id") % 5 =!= 0)
    val cents = graft.operators.IvfAnn
      .centroids(base, "vec_id", "embedding", clusters = 16, iters = 2)
    val tagged = all0.select(col("vec_id"), col("embedding"),
      when(col("vec_id") % 5 === 0, "delta").otherwise("base").as("gen"))
    graft.operators.IvfAnn
      .driftReport(tagged, "gen", "embedding", cents)
      .orderBy(col("cell"))
  }

  /** Drift-GATED retrain
    * ([[graft.operators.IvfAnn.retrainIfDrifted]]) — the decision leg
    * that completes the index-maintenance lifecycle: append (q107) /
    * compact (spec) / drift telemetry (q117) / RETRAIN. The delta
    * generation arrives semantically SHIFTED (+0.5 on every dimension —
    * appended embeddings from a new encoder checkpoint, the classic
    * staleness scenario): it is appended WITHOUT retraining first, the
    * drift ratio is read from [[graft.operators.IvfAnn.driftReport]],
    * and because shifted vectors sit ~16 squared-distance units from
    * centroids trained on unit-norm data the ratio blows through
    * `tau = 3`, so the operator retrains on the full corpus and
    * replaces cells and centroids in one commit. The search then runs
    * over the REBUILT index, whose stored quantizer is the RETRAINED
    * one; the oracle replays q58's unrolled-Lloyd chain on the
    * post-retrain corpus (base + shifted delta), so a hash-equal
    * result gates the decision path end-to-end — had the gate NOT
    * fired, the search would have run on stale centroids and
    * mismatched. The un-drifted (no-retrain) branch is pinned by
    * `IvfCellLayoutSpec`.
    */
  val ivfRetrain: QuerySpec = {
    val (clusters, nProbe, iters, k, dim, nQueries) = (16, 4, 2, 3, 64, 10)
    QuerySpec.sql(
      "q121_ivf_retrain",
      ivfOracleSql(clusters, nProbe, iters, k, dim, nQueries,
        corpusCte = """SELECT vec_id,
          |    CASE WHEN vec_id % 5 = 0
          |      THEN list_transform(embedding,
          |             x -> CAST(CAST(x AS DOUBLE) + 0.5 AS REAL))
          |      ELSE embedding END AS embedding
          |  FROM embeddings""".stripMargin)
    ) { (spark, dir) =>
      val all0 = graft.CacheScope.cache(Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding")))
      val base = all0.filter(col("vec_id") % 5 =!= 0)
      // the drifted generation: every 5th vector shifted +0.5 per
      // dimension (float-exact in both engines: widen to double, add,
      // round back to float)
      val delta = all0.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") + lit(0.5)).cast("float"))
            .as("embedding"))
      // copy-on-write from the shared immutable base-slice index (this
      // gate appends a drifted delta, then retrains in place)
      val path = graft.Scratch.cloneBase(
        SharedIndexes.ivfIndex(spark, dir, "base", clusters, iters),
        "q121_ivf")
      graft.operators.IvfAnn
        .appendIndex(delta, "vec_id", "embedding", path)
      val tagged = graft.CacheScope.cache(
        base.withColumn("gen", lit("base"))
          .unionByName(delta.withColumn("gen", lit("delta"))))
      val retrained = graft.operators.IvfAnn
        .retrainIfDrifted(spark, path, tagged, "gen", "vec_id",
          "embedding", clusters, iters, tau = 3.0)
      // fail loudly if the gate ever stops firing — a silent stale-path
      // search would surface only as an oracle hash mismatch
      require(retrained, "drift gate did not fire on a +0.5-shifted delta")
      val queries = tagged.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.IvfAnn
        .searchIndex(spark, path, "vec_id", "embedding",
          queries, "qid", "qv", k = k, nProbe = nProbe)
        .select(col("qid"), col("neighbor"),
          round(col("cosine") + lit(1e-9), 4).as("cosine"))
        .orderBy(col("qid"), col("cosine").desc, col("neighbor"))
    }
  }

  /** VERSIONED index serving — zero-downtime publishing through
    * [[graft.sources.Snapshots.commit]] applied to the self-contained
    * index directory ([[graft.operators.IvfAnn.writeIndex]]: quantizer
    * + cell layout travel together, so a version can never mix one
    * version's centroids with another's cells): v0 is the index over
    * the base corpus, v1 the retrained index over the full corpus, and
    * the gate searches BOTH — crucially, the v0 search runs AFTER the
    * v1 publish, proving a reader pinned to a version keeps serving
    * identical results while the next version lands (MVCC: readers
    * resolve the pointer once, then scan an immutable directory). The
    * oracle replays each version's unrolled-Lloyd chain over its own
    * corpus slice; hash equality gates quantizer-layout pairing, the
    * pointer flip, and both searches end-to-end.
    */
  val ivfVersioned: QuerySpec = {
    val (clusters, nProbe, iters, k, dim, nQueries) = (16, 4, 2, 3, 64, 10)
    val baseCte =
      "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0"
    QuerySpec.sql(
      "q124_ivf_versioned",
      s"""SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS version, t0.* FROM (
        |${ivfOracleSql(clusters, nProbe, iters, k, dim, nQueries, baseCte)}
        |  ) t0
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT) AS version, t1.* FROM (
        |${ivfOracleSql(clusters, nProbe, iters, k, dim, nQueries)}
        |  ) t1) u
        |ORDER BY version, qid, cosine DESC, neighbor""".stripMargin
    ) { (spark, dir) =>
      import graft.sources.Snapshots
      val all0 = graft.CacheScope.cache(Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding")))
      val base = all0.filter(col("vec_id") % 5 =!= 0)
      val table = graft.Scratch.fresh("q124") + "/ivf_index"
      // each version is a full immutable generation (quantizer + cells
      // travel together) — publish the shared builds as real commits
      def commitV(slice: String) =
        Snapshots.commit(spark, table)(d => graft.Scratch.copyDir(
          SharedIndexes.ivfIndex(spark, dir, slice, clusters, iters), d))
      val v0 = commitV("base")
      val v1 = commitV("full")
      def searchV(v: Long, corpus: org.apache.spark.sql.DataFrame) =
        graft.operators.IvfAnn
        .searchIndex(spark, Snapshots.versionPath(table, v),
          "vec_id", "embedding",
          corpus.filter(col("vec_id") < nQueries)
            .select(col("vec_id").as("qid"), col("embedding").as("qv")),
          "qid", "qv", k = k, nProbe = nProbe)
        .withColumn("version", lit(v))
      // the v0 search runs AFTER the v1 publish — the pinned reader
      // must be undisturbed by the newer commit
      val s1 = searchV(v1, all0)
      val s0 = searchV(v0, base)
      s0.unionByName(s1)
        .select(col("version"), col("qid"), col("neighbor"),
          round(col("cosine") + lit(1e-9), 4).as("cosine"))
        .orderBy(col("version"), col("qid"), col("cosine").desc,
          col("neighbor"))
    }
  }

  /** DELETE leg of the index lifecycle — tombstoned logical deletes
    * served correctly, then applied physically by compaction
    * ([[graft.operators.IvfAnn.deleteFromIndex]]): 10% of the corpus
    * (every `vec_id ≥ 10` with `vec_id % 10 = 3`) is deleted as an
    * O(|deletes|) append-only marker — NO corpus rewrite on the delete
    * path — and the search runs twice: phase `tombstone` (markers
    * anti-joined at probe time) and phase `compacted` (after
    * [[graft.operators.IvfAnn.compactIndex]] rewrote the cells without
    * the deleted rows and removed the markers it applied). Both
    * phases must hash-match ONE oracle: the unrolled-Lloyd search over
    * the full-corpus-trained quantizer scoring only surviving vectors
    * (deleted vectors still shaped the centroids — deletes don't
    * retrain). The tombstone-phase frame is materialized BEFORE the
    * compaction deletes the files under it, the ordering a real
    * serving layer gets from snapshot versioning (q124).
    */
  val ivfDelete: QuerySpec = {
    val (clusters, nProbe, iters, k, dim, nQueries) = (16, 4, 2, 3, 64, 10)
    QuerySpec.sql(
      "q129_ivf_delete",
      s"""SELECT ph.phase, t.qid, t.neighbor, t.cosine FROM (
        |${ivfOracleSql(clusters, nProbe, iters, k, dim, nQueries,
             scoredPred = "AND NOT (v.vec_id >= 10 AND v.vec_id % 10 = 3)")}
        |) t CROSS JOIN (SELECT unnest(['compacted', 'tombstone']) AS phase) ph
        |ORDER BY ph.phase, t.qid, t.cosine DESC, t.neighbor""".stripMargin
    ) { (spark, dir) =>
      val corpus = Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      // copy-on-write from the shared immutable full-corpus index (this
      // gate deletes and compacts in place)
      val path = graft.Scratch.cloneBase(
        SharedIndexes.ivfIndex(spark, dir, "full", clusters, iters),
        "q129_ivf")
      graft.operators.IvfAnn.deleteFromIndex(spark, path,
        corpus.filter(col("vec_id") >= 10 && col("vec_id") % 10 === 3)
          .select(col("vec_id")), "vec_id")
      val queries = corpus.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      def searchNow(phase: String) = graft.operators.IvfAnn
        .searchIndex(spark, path, "vec_id", "embedding",
          queries, "qid", "qv", k = k, nProbe = nProbe)
        .withColumn("phase", lit(phase))
      // materialize the tombstone-phase result BEFORE compaction deletes
      // the files under its (lazy) file scan
      val served = graft.CacheScope.cacheTruncated(searchNow("tombstone"))
      served.count()
      graft.operators.IvfAnn.compactIndex(spark, path, "vec_id")
      served.unionByName(searchNow("compacted"))
        .select(col("phase"), col("qid"), col("neighbor"),
          round(col("cosine") + lit(1e-9), 4).as("cosine"))
        .orderBy(col("phase"), col("qid"), col("cosine").desc,
          col("neighbor"))
    }
  }

  /** Batch-hard TRIPLET mining (Hermans et al., "In Defense of the
    * Triplet Loss") — the contrastive-training staple the embedding
    * tier was missing: for each anchor, the HARDEST positive (the
    * same-label vector it is LEAST similar to — the pair training must
    * pull together) and the HARDEST negative (the different-label
    * vector it is MOST similar to — the pair training must push
    * apart), plus the margin between them; anchors with small or
    * negative margins are the violated triplets a mining-driven
    * training loop feeds back first. Both picks are k=1
    * [[graft.plans.TopKPerKeyPlan]] passes over one broadcast-scored
    * frame — bounded heaps, no per-anchor sort; at 100 TB the
    * candidate set scopes through IVF cells first (q58's machinery)
    * so scoring never touches the full corpus per anchor.
    */
  val tripletMining: QuerySpec = {
    val nAnchors = 32
    QuerySpec.sql(
      "q135_triplet_mining",
      s"""WITH a AS (
        |  SELECT vec_id AS anchor, label, embedding AS av
        |  FROM embeddings WHERE vec_id < $nAnchors),
        |c AS (SELECT vec_id, label AS clabel, embedding FROM embeddings),
        |scored AS (
        |  SELECT anchor, a.label, vec_id, clabel,
        |    ${Vectors.cosineSql("av", "embedding")} AS cos
        |  FROM a JOIN c ON anchor <> vec_id
        |    AND ${Vectors.normSql("av")} > 0
        |    AND ${Vectors.normSql("embedding")} > 0),
        |pos AS (
        |  SELECT anchor, label, vec_id AS pos_id, cos AS cos_pos,
        |    row_number() OVER (PARTITION BY anchor
        |      ORDER BY cos ASC, vec_id) AS rk
        |  FROM scored WHERE clabel = label),
        |neg AS (
        |  SELECT anchor, vec_id AS neg_id, cos AS cos_neg,
        |    row_number() OVER (PARTITION BY anchor
        |      ORDER BY cos DESC, vec_id) AS rk
        |  FROM scored WHERE clabel <> label)
        |SELECT anchor, label, pos_id,
        |  round(cos_pos + 1e-9, 4) AS cos_pos,
        |  neg_id, round(cos_neg + 1e-9, 4) AS cos_neg,
        |  round(cos_neg - cos_pos + 1e-9, 4) AS margin
        |FROM pos JOIN neg USING (anchor)
        |WHERE pos.rk = 1 AND neg.rk = 1
        |ORDER BY anchor""".stripMargin
    ) { (spark, dir) =>
      val e = graft.CacheScope.cache(Tables.load(spark, dir, "embeddings"))
      val anchors = e.filter(col("vec_id") < nAnchors)
        .select(col("vec_id").as("anchor"), col("label"),
          col("embedding").as("av"))
      val scored = graft.CacheScope.cache(broadcast(anchors)
        .join(e.select(col("vec_id"), col("label").as("clabel"),
            col("embedding")),
          col("anchor") =!= col("vec_id") &&
            Vectors.norm(col("av")) > 0 && Vectors.norm(col("embedding")) > 0)
        .select(col("anchor"), col("label"), col("vec_id"), col("clabel"),
          Vectors.cosine(col("av"), col("embedding")).as("cos")))
      val pos = graft.operators.Dedup.topKPerKey(
          scored.filter(col("clabel") === col("label")),
          Seq("anchor"), Seq(col("cos").asc, col("vec_id").asc), 1)
        .select(col("anchor"), col("label"), col("vec_id").as("pos_id"),
          col("cos").as("cos_pos"))
      val neg = graft.operators.Dedup.topKPerKey(
          scored.filter(col("clabel") =!= col("label")),
          Seq("anchor"), Seq(col("cos").desc, col("vec_id").asc), 1)
        .select(col("anchor"), col("vec_id").as("neg_id"),
          col("cos").as("cos_neg"))
      pos.join(neg, "anchor")
        .select(col("anchor"), col("label"), col("pos_id"),
          round(col("cos_pos") + lit(1e-9), 4).as("cos_pos"),
          col("neg_id"), round(col("cos_neg") + lit(1e-9), 4).as("cos_neg"),
          round(col("cos_neg") - col("cos_pos") + lit(1e-9), 4).as("margin"))
        .orderBy(col("anchor"))
    }
  }

  /** Greedy k-CENTER diversity selection (Gonzalez' 2-approximation —
    * the coreset/data-pruning shape: pick the k most mutually distant
    * exemplars, maximizing coverage instead of similarity): seed with
    * the lowest id, then repeatedly take the point FARTHEST (cosine
    * distance) from everything selected so far; each pick's distance
    * is the coverage radius, and the monotonically shrinking radius
    * column is the diminishing-returns curve that says when to stop.
    * The selection is sequential by nature, and the determinism
    * contract makes it SQL-expressible anyway: the oracle UNROLLS all
    * k−1 greedy steps as CTE pairs (distance refresh via `least`,
    * argmax via ORDER BY d DESC, id LIMIT 1) — the q58 Lloyd-unroll
    * trick applied to a greedy cover. Spark runs the same recurrence
    * with one bounded scan per step over the cached sample (driver
    * state = k ids + one 64-float vector per step, the CentroidState
    * bound); at corpus scale the sample IS the bounded calibration
    * slice (q26's pattern) or each IVF cell selects its own exemplars.
    */
  val kcenterSelect: QuerySpec = {
    val (nSample, k) = (256, 6)
    // p_i is the (i+1)-th selected point: seed is step 1, p1 step 2, …
    val steps = (2 until k).map { i =>
      val prev = i - 1
      s"""d$i AS (
        |  SELECT d$prev.vec_id, v.embedding,
        |    least(d$prev.d, 1 - ${Vectors.cosineSql("v.embedding", "c.embedding")}) AS d
        |  FROM d$prev JOIN s v ON v.vec_id = d$prev.vec_id
        |  CROSS JOIN (SELECT embedding FROM s
        |              WHERE vec_id = (SELECT vec_id FROM p$prev)) c
        |  WHERE d$prev.vec_id <> (SELECT vec_id FROM p$prev)),
        |p$i AS (SELECT vec_id, d FROM d$i ORDER BY d DESC, vec_id LIMIT 1)"""
        .stripMargin
    }.mkString(",\n")
    val unions = (1 until k)
      .map(i => s"SELECT CAST(${i + 1} AS BIGINT) AS step, vec_id, d FROM p$i")
      .mkString("\n  UNION ALL ")
    QuerySpec.sql(
      "q136_kcenter",
      s"""WITH s AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id < $nSample AND ${Vectors.normSql("embedding")} > 0),
        |seed AS (SELECT min(vec_id) AS vec_id FROM s),
        |d1 AS (
        |  SELECT v.vec_id, v.embedding,
        |    1 - ${Vectors.cosineSql("v.embedding", "c.embedding")} AS d
        |  FROM s v CROSS JOIN (SELECT embedding FROM s
        |    WHERE vec_id = (SELECT vec_id FROM seed)) c
        |  WHERE v.vec_id <> (SELECT vec_id FROM seed)),
        |p1 AS (SELECT vec_id, d FROM d1 ORDER BY d DESC, vec_id LIMIT 1),
        |$steps
        |SELECT step, vec_id, round(d + 1e-9, 4) AS radius FROM (
        |  SELECT CAST(1 AS BIGINT) AS step, vec_id, CAST(0 AS DOUBLE) AS d
        |  FROM seed
        |  UNION ALL $unions) u
        |ORDER BY step""".stripMargin
    ) { (spark, dir) =>
      val sample = graft.CacheScope.cache(
        Tables.load(spark, dir, "embeddings")
          .filter(col("vec_id") < nSample &&
            Vectors.norm(col("embedding")) > 0)
          .select(col("vec_id"), col("embedding")))
      val seedId = sample.agg(min(col("vec_id"))).head().getLong(0)
      def vecOf(id: Long): org.apache.spark.sql.Column = {
        val v = sample.filter(col("vec_id") === id)
          .select(col("embedding")).head().getSeq[Float](0)
        typedLit(v)
      }
      var dists = sample.filter(col("vec_id") =!= seedId)
        .select(col("vec_id"), col("embedding"),
          (lit(1.0) - Vectors.cosine(col("embedding"), vecOf(seedId)))
            .as("d"))
      val picked = scala.collection.mutable.ArrayBuffer((1L, seedId, 0.0))
      // steps 2..k: argmax of min-distance-to-selected, then refresh
      (2 to k).foreach { i =>
        val top = dists.orderBy(col("d").desc, col("vec_id")).limit(1)
          .select(col("vec_id"), col("d")).head
        val (id, d) = (top.getLong(0), top.getDouble(1))
        picked += ((i.toLong, id, d))
        if (i < k) dists = dists.filter(col("vec_id") =!= id)
          .select(col("vec_id"), col("embedding"),
            least(col("d"),
              lit(1.0) - Vectors.cosine(col("embedding"), vecOf(id)))
              .as("d"))
      }
      import spark.implicits._
      picked.toSeq.toDF("step", "vec_id", "d")
        .select(col("step"), col("vec_id"),
          round(col("d") + lit(1e-9), 4).as("radius"))
        .orderBy(col("step"))
    }
  }

  /** q138 oracle: q85's composed IVF+PQ chain with BOTH quantizers
    * trained on the BASE slice (`vec_id % 5 <> 0`) while encoding,
    * assignment, and probing run over the FULL set — exactly the end
    * state of `writeIndex(base)` + `appendIndex(delta)` (the q107
    * append-oracle pattern, extended to the PQ leg).
    */
  private def ivfPqAppendOracleSql(clusters: Int, nProbe: Int,
      coarseIters: Int, m: Int, dim: Int, codes: Int, pqIters: Int,
      k: Int, nQueries: Int): String = {
    import Vectors.dotSql
    val sub = dim / m
    s"""WITH corpus AS (
      |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0),
      |allv AS (SELECT vec_id, embedding FROM embeddings),
      |${coarseCtes(clusters, nProbe, coarseIters, dim, nQueries)},
      |${pqCtes(m, dim, codes, pqIters, nQueries)},
      |af_all AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT v.vec_id, c.cell,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY c.cnorm2 - 2.0 * ${dotSql("v.embedding", "c.cvec")}, c.cell) AS rk
      |    FROM allv v CROSS JOIN c${coarseIters}n c) t WHERE rk = 1),
      |probes_all AS (
      |  SELECT qid, cell FROM (
      |    SELECT v.vec_id AS qid, c.cell,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY c.cnorm2 - 2.0 * ${dotSql("v.embedding", "c.cvec")}, c.cell) AS rk
      |    FROM allv v CROSS JOIN c${coarseIters}n c
      |    WHERE v.vec_id < $nQueries) t WHERE rk <= $nProbe),
      |subvecs_all AS (
      |  SELECT vec_id, s.m AS m,
      |    list_slice(embedding, s.m * $sub + 1, s.m * $sub + $sub) AS sv
      |  FROM allv CROSS JOIN range(0, $m) s(m)),
      |enc_all AS (
      |  SELECT vec_id, m, cell AS code FROM (
      |    SELECT v.vec_id, v.m, c.cell,
      |      row_number() OVER (PARTITION BY v.vec_id, v.m
      |        ORDER BY c.cnorm2 - 2.0 * ${dotSql("v.sv", "c.cvec")}, c.cell) AS rk
      |    FROM subvecs_all v JOIN p${pqIters}n c ON v.m = c.m) t WHERE rk = 1),
      |adc_all AS (
      |  SELECT v.vec_id AS qid, v.m, c.cell,
      |    ${dotSql("v.sv", "v.sv")} + c.cnorm2
      |      - 2.0 * ${dotSql("v.sv", "c.cvec")} AS d
      |  FROM subvecs_all v JOIN p${pqIters}n c ON v.m = c.m
      |  WHERE v.vec_id < $nQueries),
      |scored AS (
      |  SELECT a.qid, e.vec_id AS neighbor,
      |    list_sum(list(a.d ORDER BY a.m)) AS approx_dist
      |  FROM enc_all e
      |  JOIN af_all f ON f.vec_id = e.vec_id
      |  JOIN probes_all p ON p.cell = f.cell
      |  JOIN adc_all a ON a.qid = p.qid AND a.m = e.m AND a.cell = e.code
      |  WHERE a.qid <> e.vec_id
      |  GROUP BY a.qid, e.vec_id)
      |SELECT qid, neighbor, round(approx_dist + 1e-9, 4) AS approx_dist
      |FROM (SELECT *, row_number() OVER (PARTITION BY qid
      |        ORDER BY approx_dist, neighbor) AS rk FROM scored) r
      |WHERE rk <= $k
      |ORDER BY qid, approx_dist, neighbor""".stripMargin
  }

  /** Day-2 maintenance for the composed IVF+PQ index
    * ([[graft.operators.IvfPq.writeIndex]] /
    * [[graft.operators.IvfPq.appendIndex]] /
    * [[graft.operators.IvfPq.searchIndex]]) — the index you'd actually
    * serve at 10 B vectors gets the same legs plain IVF has (q107):
    * quantizers train on the BASE corpus only, the encoded corpus
    * (coarse cell + PQ codes, no floats) is materialized
    * cell-partitioned, and the remaining 20% arrive later as a delta
    * routed and encoded by the STORED quantizers — O(|delta|) appends,
    * zero retrain, zero rewrite. The search then reads ONLY probed
    * cells' code files and scores by ADC lookups, with queries drawn
    * from both generations. The oracle re-derives both trainings from
    * the base slice and encode/assign/probe over the full set, so a
    * hash-equal row set gates write → append → prune → ADC score
    * end-to-end.
    */
  val ivfPqAppend: QuerySpec = {
    val (clusters, nProbe, coarseIters) = (16, 4, 1)
    val (m, dim, codes, pqIters, k, nQ) = (8, 64, 16, 1, 3, 10)
    QuerySpec.sql(
      "q138_ivfpq_append",
      ivfPqAppendOracleSql(clusters, nProbe, coarseIters, m, dim, codes,
        pqIters, k, nQ)
    ) { (spark, dir) =>
      val all0 = graft.CacheScope.cache(Tables.load(spark, dir, "embeddings"))
      val base = all0.filter(col("vec_id") % 5 =!= 0)
      val delta = all0.filter(col("vec_id") % 5 === 0)
      // copy-on-write from the shared immutable base-slice index (this
      // gate appends the delta into its copy)
      val idx = graft.Scratch.cloneBase(SharedIndexes.ivfPqIndex(
        spark, dir, "base", clusters, m, dim, codes, coarseIters, pqIters),
        "q138_ivfpq")
      graft.operators.IvfPq.appendIndex(delta, "vec_id", "embedding", idx)
      val queries = all0.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.IvfPq.searchIndex(spark, idx, "vec_id",
          queries, "qid", "qv", k = k, nProbe = nProbe)
        .select(col("qid"), col("neighbor"),
          round(col("approx_dist") + lit(1e-9), 4).as("approx_dist"))
        .orderBy(col("qid"), col("approx_dist"), col("neighbor"))
    }
  }

  /** q142 oracle: the residual IVFADC chain — coarse training and
    * assignment ([[coarseCtes]]), residual vectors under the assigned
    * cell, PQ training/encoding over the residuals (the parameterized
    * [[pqCtes]] with `src = rv`), per-(query, probed-cell) residual ADC
    * tables, and scoring restricted to probed cells with the table
    * paired by cell.
    */
  private def ivfPqResidualOracleSql(clusters: Int, nProbe: Int,
      coarseIters: Int, m: Int, dim: Int, codes: Int, pqIters: Int,
      k: Int, nQueries: Int,
      corpusCte: String = "SELECT vec_id, embedding FROM embeddings")
      : String = {
    import Vectors.dotSql
    val sub = dim / m
    s"""WITH corpus AS ($corpusCte),
      |${coarseCtes(clusters, nProbe, coarseIters, dim, nQueries)},
      |rv AS (
      |  SELECT f.vec_id, f.cell,
      |    [CAST(v.embedding[i] - c.cvec[i] AS FLOAT)
      |     FOR i IN generate_series(1, $dim)] AS rv
      |  FROM af f JOIN corpus v USING (vec_id)
      |  JOIN c${coarseIters}n c ON c.cell = f.cell),
      |${pqCtes(m, dim, codes, pqIters, nQueries, src = "rv", vcol = "rv")},
      |qrv AS (
      |  SELECT p.qid, p.cell,
      |    [CAST(q.embedding[i] - c.cvec[i] AS FLOAT)
      |     FOR i IN generate_series(1, $dim)] AS rv
      |  FROM probes p JOIN corpus q ON q.vec_id = p.qid
      |  JOIN c${coarseIters}n c ON c.cell = p.cell),
      |qsub AS (
      |  SELECT qid, cell, s.m AS m,
      |    list_slice(rv, s.m * $sub + 1, s.m * $sub + $sub) AS sv
      |  FROM qrv CROSS JOIN range(0, $m) s(m)),
      |adc_res AS (
      |  SELECT v.qid, v.cell, v.m, c.cell AS code_cell,
      |    ${dotSql("v.sv", "v.sv")} + c.cnorm2
      |      - 2.0 * ${dotSql("v.sv", "c.cvec")} AS d
      |  FROM qsub v JOIN p${pqIters}n c ON v.m = c.m),
      |scored AS (
      |  SELECT a.qid, e.vec_id AS neighbor,
      |    list_sum(list(a.d ORDER BY a.m)) AS approx_dist
      |  FROM enc e
      |  JOIN af f ON f.vec_id = e.vec_id
      |  JOIN adc_res a ON a.cell = f.cell AND a.m = e.m
      |    AND a.code_cell = e.code
      |  WHERE a.qid <> e.vec_id
      |  GROUP BY a.qid, e.vec_id)
      |SELECT qid, neighbor, round(approx_dist + 1e-9, 4) AS approx_dist
      |FROM (SELECT *, row_number() OVER (PARTITION BY qid
      |        ORDER BY approx_dist, neighbor) AS rk FROM scored) r
      |WHERE rk <= $k
      |ORDER BY qid, approx_dist, neighbor""".stripMargin
  }

  /** Residual-encoded IVF+PQ
    * ([[graft.operators.IvfPq.search]], `residual = true`) — the FAISS `IVFx,PQy`
    * default (IVFADC): PQ codebooks train on residuals `v − c(cell)`,
    * spending code entropy on within-cell displacement instead of the
    * between-cell variance the coarse quantizer already explains; each
    * query carries one ADC table per probed cell and the probe join on
    * `cell` pairs every encoded row with exactly its own cell's table.
    * Same determinism contract as q85, so the oracle replays coarse
    * training, residual computation, residual-PQ training, encoding,
    * and per-cell ADC scoring — the full IVFADC chain hash-matched.
    */
  val ivfPqResidual: QuerySpec = {
    val (clusters, nProbe, coarseIters) = (16, 4, 1)
    val (m, dim, codes, pqIters, k, nQ) = (8, 64, 16, 1, 3, 10)
    QuerySpec.sql(
      "q142_ivfpq_residual",
      ivfPqResidualOracleSql(clusters, nProbe, coarseIters, m, dim, codes,
        pqIters, k, nQ)
    ) { (spark, dir) =>
      val corpus = Tables.load(spark, dir, "embeddings")
      val queries = corpus.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.IvfPq
        .search(corpus, "vec_id", "embedding", queries, "qid", "qv",
          k = k, clusters = clusters, nProbe = nProbe, m = m, dim = dim,
          codes = codes, coarseIters = coarseIters, pqIters = pqIters,
          residual = true)
        .select(col("qid"), col("neighbor"),
          round(col("approx_dist") + lit(1e-9), 4).as("approx_dist"))
        .orderBy(col("qid"), col("approx_dist"), col("neighbor"))
    }
  }

  /** q144 oracle: the persisted-residual-index end state — coarse and
    * residual-PQ training on the BASE slice, residual encoding and
    * probing over the FULL set (q138's base/full split applied to the
    * q142 residual chain).
    */
  private def ivfPqResidualAppendOracleSql(clusters: Int, nProbe: Int,
      coarseIters: Int, m: Int, dim: Int, codes: Int, pqIters: Int,
      k: Int, nQueries: Int): String =
    s"""${ivfPqResidualIndexCtes(clusters, nProbe, coarseIters, m, dim,
        codes, pqIters, nQueries)}
      |SELECT qid, neighbor, round(approx_dist + 1e-9, 4) AS approx_dist
      |FROM (SELECT *, row_number() OVER (PARTITION BY qid
      |        ORDER BY approx_dist, neighbor) AS rk FROM scored) r
      |WHERE rk <= $k
      |ORDER BY qid, approx_dist, neighbor""".stripMargin

  /** The q144/q146 shared WITH-chain: base-trained residual index end
    * state, through the `scored` CTE (per-candidate residual ADC
    * distances over probed cells).
    */
  private def ivfPqResidualIndexCtes(clusters: Int, nProbe: Int,
      coarseIters: Int, m: Int, dim: Int, codes: Int, pqIters: Int,
      nQueries: Int): String = {
    import Vectors.dotSql
    val sub = dim / m
    s"""WITH corpus AS (
      |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0),
      |allv AS (SELECT vec_id, embedding FROM embeddings),
      |${coarseCtes(clusters, nProbe, coarseIters, dim, nQueries)},
      |rv AS (
      |  SELECT f.vec_id, f.cell,
      |    [CAST(v.embedding[i] - c.cvec[i] AS FLOAT)
      |     FOR i IN generate_series(1, $dim)] AS rv
      |  FROM af f JOIN corpus v USING (vec_id)
      |  JOIN c${coarseIters}n c ON c.cell = f.cell),
      |${pqCtes(m, dim, codes, pqIters, nQueries, src = "rv", vcol = "rv")},
      |af_all AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT v.vec_id, c.cell,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY c.cnorm2 - 2.0 * ${dotSql("v.embedding", "c.cvec")}, c.cell) AS rk
      |    FROM allv v CROSS JOIN c${coarseIters}n c) t WHERE rk = 1),
      |probes_all AS (
      |  SELECT qid, cell FROM (
      |    SELECT v.vec_id AS qid, c.cell,
      |      row_number() OVER (PARTITION BY v.vec_id
      |        ORDER BY c.cnorm2 - 2.0 * ${dotSql("v.embedding", "c.cvec")}, c.cell) AS rk
      |    FROM allv v CROSS JOIN c${coarseIters}n c
      |    WHERE v.vec_id < $nQueries) t WHERE rk <= $nProbe),
      |rv_all AS (
      |  SELECT f.vec_id, f.cell,
      |    [CAST(v.embedding[i] - c.cvec[i] AS FLOAT)
      |     FOR i IN generate_series(1, $dim)] AS rv
      |  FROM af_all f JOIN allv v USING (vec_id)
      |  JOIN c${coarseIters}n c ON c.cell = f.cell),
      |sub_all AS (
      |  SELECT vec_id, s.m AS m,
      |    list_slice(rv, s.m * $sub + 1, s.m * $sub + $sub) AS sv
      |  FROM rv_all CROSS JOIN range(0, $m) s(m)),
      |enc_all AS (
      |  SELECT vec_id, m, cell AS code FROM (
      |    SELECT v.vec_id, v.m, c.cell,
      |      row_number() OVER (PARTITION BY v.vec_id, v.m
      |        ORDER BY c.cnorm2 - 2.0 * ${dotSql("v.sv", "c.cvec")}, c.cell) AS rk
      |    FROM sub_all v JOIN p${pqIters}n c ON v.m = c.m) t WHERE rk = 1),
      |qrv AS (
      |  SELECT p.qid, p.cell,
      |    [CAST(q.embedding[i] - c.cvec[i] AS FLOAT)
      |     FOR i IN generate_series(1, $dim)] AS rv
      |  FROM probes_all p JOIN allv q ON q.vec_id = p.qid
      |  JOIN c${coarseIters}n c ON c.cell = p.cell),
      |qsub AS (
      |  SELECT qid, cell, s.m AS m,
      |    list_slice(rv, s.m * $sub + 1, s.m * $sub + $sub) AS sv
      |  FROM qrv CROSS JOIN range(0, $m) s(m)),
      |adc_res AS (
      |  SELECT v.qid, v.cell, v.m, c.cell AS code_cell,
      |    ${dotSql("v.sv", "v.sv")} + c.cnorm2
      |      - 2.0 * ${dotSql("v.sv", "c.cvec")} AS d
      |  FROM qsub v JOIN p${pqIters}n c ON v.m = c.m),
      |scored AS (
      |  SELECT a.qid, e.vec_id AS neighbor,
      |    list_sum(list(a.d ORDER BY a.m)) AS approx_dist
      |  FROM enc_all e
      |  JOIN af_all f ON f.vec_id = e.vec_id
      |  JOIN adc_res a ON a.cell = f.cell AND a.m = e.m
      |    AND a.code_cell = e.code
      |  WHERE a.qid <> e.vec_id
      |  GROUP BY a.qid, e.vec_id)""".stripMargin
  }

  /** The persisted RESIDUAL index with O(delta) maintenance — q138's
    * lifecycle applied to q142's encoding, i.e. the complete production
    * ANN artifact (a maintained on-disk IVFADC index):
    * [[graft.operators.IvfPq.writeIndex]] (`residual = true`) trains
    * both quantizers on the BASE corpus and persists residual codes
    * cell-partitioned; [[graft.operators.IvfPq.appendIndex]] routes and
    * residual-encodes the later delta through the STORED state;
    * [[graft.operators.IvfPq.searchIndex]] reads only probed cells'
    * codes and scores with per-cell residual ADC tables. The
    * `residual` property in the index's log makes the encoding part of
    * the layout, so append and search always follow the encoding the
    * index was written with. Oracle = the q142 residual chain under the q138 base/full
    * split.
    */
  val ivfPqResidualIndex: QuerySpec = {
    val (clusters, nProbe, coarseIters) = (16, 4, 1)
    val (m, dim, codes, pqIters, k, nQ) = (8, 64, 16, 1, 3, 10)
    QuerySpec.sql(
      "q144_ivfpq_residual_index",
      ivfPqResidualAppendOracleSql(clusters, nProbe, coarseIters, m, dim,
        codes, pqIters, k, nQ)
    ) { (spark, dir) =>
      // shared immutable post-append generation (base %5 build + delta
      // append, same params) — probed READ-ONLY, so no clone
      val idx = SharedIndexes.ivfPqResidualBaseDelta(spark, dir,
        clusters, m, dim, codes, coarseIters, pqIters)
      val queries = Tables.load(spark, dir, "embeddings")
        .filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.IvfPq.searchIndex(spark, idx, "vec_id",
          queries, "qid", "qv", k = k, nProbe = nProbe)
        .select(col("qid"), col("neighbor"),
          round(col("approx_dist") + lit(1e-9), 4).as("approx_dist"))
        .orderBy(col("qid"), col("approx_dist"), col("neighbor"))
    }
  }

  /** The production retrieval composition served end-to-end from the
    * persisted residual index
    * ([[graft.operators.IvfPq.searchIndexRefined]]): the
    * codes-only index scan (q144's write → append → probe chain) prunes
    * to a `refine·k` shortlist per query, and only the shortlist's full
    * float vectors are fetched and re-scored with the true squared L2 —
    * at 10 B vectors the only stage touching float data moves
    * `refine·k·queries` rows. Quantization error affects which
    * candidates make the shortlist, never their final order. Oracle =
    * the q144 chain widened to the shortlist, then the exact-distance
    * re-rank replayed over the full vectors.
    */
  val ivfPqResidualRefined: QuerySpec = {
    val (clusters, nProbe, coarseIters) = (16, 4, 1)
    val (m, dim, codes, pqIters, k, refine, nQ) = (8, 64, 16, 1, 3, 4, 10)
    QuerySpec.sql(
      "q146_ivfpq_refined",
      s"""${ivfPqResidualIndexCtes(clusters, nProbe, coarseIters, m, dim,
          codes, pqIters, nQ)},
        |shortlist AS (
        |  SELECT qid, neighbor
        |  FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |          ORDER BY approx_dist, neighbor) AS rk FROM scored) r
        |  WHERE rk <= ${refine * k}),
        |exact AS (
        |  SELECT s.qid, s.neighbor,
        |    ${Vectors.dotSql("q.embedding", "q.embedding")}
        |      + ${Vectors.dotSql("v.embedding", "v.embedding")}
        |      - 2.0 * ${Vectors.dotSql("q.embedding", "v.embedding")} AS dist2
        |  FROM shortlist s
        |  JOIN allv q ON q.vec_id = s.qid
        |  JOIN allv v ON v.vec_id = s.neighbor)
        |SELECT qid, neighbor, round(dist2 + 1e-9, 4) AS dist2
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |        ORDER BY dist2, neighbor) AS rk FROM exact) r
        |WHERE rk <= $k
        |ORDER BY qid, dist2, neighbor""".stripMargin
    ) { (spark, dir) =>
      val all0 = graft.CacheScope.cache(Tables.load(spark, dir, "embeddings"))
      // shared immutable post-append generation — probed READ-ONLY
      val idx = SharedIndexes.ivfPqResidualBaseDelta(spark, dir,
        clusters, m, dim, codes, coarseIters, pqIters)
      val queries = all0.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.IvfPq.searchIndexRefined(spark, idx,
          "vec_id", "embedding", all0, queries, "qid", "qv",
          k = k, nProbe = nProbe, refine = refine)
        .select(col("qid"), col("neighbor"),
          round(col("dist2") + lit(1e-9), 4).as("dist2"))
        .orderBy(col("qid"), col("dist2"), col("neighbor"))
    }
  }

  /** Drift-gated retrain of the PERSISTED residual index
    * ([[graft.operators.IvfPq.retrainIfDrifted]]) — the composed-index
    * parity leg: q121's staleness scenario run against q144's artifact.
    * The residual (IVFADC) index is built on the base corpus; a
    * +0.5-shifted delta (appended embeddings from a new encoder
    * checkpoint) lands through [[graft.operators.IvfPq.appendIndex]]
    * WITHOUT retraining; the drift ratio — read
    * from the quantizer STORED IN the index (no caller-held state) —
    * blows through `tau = 3`, so BOTH quantizers retrain on the full
    * corpus and the whole index directory rebuilds through the staged
    * publish under its existing residual encoding. The search then runs
    * over the rebuilt artifact. Oracle = the q142 residual chain over
    * the post-retrain corpus (base + shifted delta): had the gate NOT
    * fired, the search would have served stale quantizers and
    * mismatched. The no-retrain branch is pinned in `IvfPqSpec`.
    */
  val ivfPqRetrain: QuerySpec = {
    val (clusters, nProbe, coarseIters) = (16, 4, 1)
    val (m, dim, codes, pqIters, k, nQ) = (8, 64, 16, 1, 3, 10)
    QuerySpec.sql(
      "q147_ivfpq_retrain",
      ivfPqResidualOracleSql(clusters, nProbe, coarseIters, m, dim, codes,
        pqIters, k, nQ,
        corpusCte = """SELECT vec_id,
          |    CASE WHEN vec_id % 5 = 0
          |      THEN list_transform(embedding,
          |             x -> CAST(CAST(x AS DOUBLE) + 0.5 AS REAL))
          |      ELSE embedding END AS embedding
          |  FROM embeddings""".stripMargin)
    ) { (spark, dir) =>
      val all0 = graft.CacheScope.cache(Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding")))
      val base = all0.filter(col("vec_id") % 5 =!= 0)
      // the drifted generation: every 5th vector shifted +0.5 per
      // dimension (float-exact in both engines — q121's scenario)
      val delta = all0.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") + lit(0.5)).cast("float"))
            .as("embedding"))
      // copy-on-write from the shared immutable base generation (this
      // gate appends a drifted delta, then retrains in place)
      val idx = graft.Scratch.cloneBase(SharedIndexes.ivfPqResidual(
        spark, dir, "base", clusters, m, dim, codes, coarseIters, pqIters),
        "q147_ivfpq_res")
      graft.operators.IvfPq.appendIndex(delta, "vec_id", "embedding",
        idx)
      val tagged = graft.CacheScope.cache(
        base.withColumn("gen", lit("base"))
          .unionByName(delta.withColumn("gen", lit("delta"))))
      val retrained = graft.operators.IvfPq.retrainIfDrifted(spark, idx,
        tagged, "gen", "vec_id", "embedding", clusters, m, dim, codes,
        coarseIters, pqIters, tau = 3.0)
      // fail loudly if the gate ever stops firing — a silent stale-path
      // search would surface only as an oracle hash mismatch
      require(retrained, "drift gate did not fire on a +0.5-shifted delta")
      val queries = tagged.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.IvfPq.searchIndex(spark, idx, "vec_id",
          queries, "qid", "qv", k = k, nProbe = nProbe)
        .select(col("qid"), col("neighbor"),
          round(col("approx_dist") + lit(1e-9), 4).as("approx_dist"))
        .orderBy(col("qid"), col("approx_dist"), col("neighbor"))
    }
  }

  /** Versioned serving of the composed residual index — q124's MVCC
    * contract extended to the IvfPq artifact: each build commits a FULL
    * index version (codes + both quantizers + the encoding flag travel
    * together, so a reader can never mix one version's quantizers with
    * another's codes) through
    * [[graft.sources.Snapshots.commit]], and the v0 search runs AFTER
    * the v1 publish — a reader pinned to a version keeps serving
    * identical results while the next version lands. Oracle = two
    * residual chains, one per version's corpus slice, unioned with the
    * version tag.
    */
  val ivfPqVersioned: QuerySpec = {
    val (clusters, nProbe, coarseIters) = (16, 4, 1)
    val (m, dim, codes, pqIters, k, nQ) = (8, 64, 16, 1, 3, 10)
    val baseCte =
      "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0"
    QuerySpec.sql(
      "q148_ivfpq_versioned",
      s"""SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS version, t0.* FROM (
        |${ivfPqResidualOracleSql(clusters, nProbe, coarseIters, m, dim,
            codes, pqIters, k, nQ, corpusCte = baseCte)}
        |  ) t0
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT) AS version, t1.* FROM (
        |${ivfPqResidualOracleSql(clusters, nProbe, coarseIters, m, dim,
            codes, pqIters, k, nQ)}
        |  ) t1) u
        |ORDER BY version, qid, approx_dist, neighbor""".stripMargin
    ) { (spark, dir) =>
      import graft.sources.Snapshots
      val all0 = graft.CacheScope.cache(Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding")))
      val base = all0.filter(col("vec_id") % 5 =!= 0)
      val root = graft.Scratch.fresh("q148") + "/ivfpq_versions"
      // each version is a full immutable generation — publish the
      // shared builds (base slice, then full corpus) as real commits
      def writeV(slice: String) =
        Snapshots.commit(spark, root)(d => graft.Scratch.copyDir(
          SharedIndexes.ivfPqResidual(spark, dir, slice, clusters, m, dim,
            codes, coarseIters, pqIters), d))
      val v0 = writeV("base")
      val v1 = writeV("full")
      def searchV(v: Long, corpus: org.apache.spark.sql.DataFrame) =
        graft.operators.IvfPq.searchIndex(spark,
            Snapshots.versionPath(root, v), "vec_id",
            corpus.filter(col("vec_id") < nQ)
              .select(col("vec_id").as("qid"), col("embedding").as("qv")),
            "qid", "qv", k = k, nProbe = nProbe)
          .withColumn("version", lit(v))
      // the v0 search runs AFTER the v1 publish — the pinned reader
      // must be undisturbed by the newer commit
      val s1 = searchV(v1, all0)
      val s0 = searchV(v0, base)
      s0.unionByName(s1)
        .select(col("version"), col("qid"), col("neighbor"),
          round(col("approx_dist") + lit(1e-9), 4).as("approx_dist"))
        .orderBy(col("version"), col("qid"), col("approx_dist"),
          col("neighbor"))
    }
  }

  /** STREAMED maintenance of the persisted residual index — the q119
    * pattern for the IvfPq family, completing the streamed-ingest leg
    * every index family now has (q119 plain IVF, q143 LSH dedup, THIS
    * for IVF+PQ): the delta generation arrives as three AvailableNow
    * micro-batches (`maxFilesPerTrigger=1`) and each `foreachBatch`
    * routes and residual-encodes its rows through the STORED quantizers
    * ([[graft.operators.IvfPq.appendIndex]], encoding read from the
    * index) — per-micro-batch O(batch) appends, never a rewrite or
    * retrain. Appends commute (each lands new code files under its
    * cells), so the index's end state is identical however the delta
    * was sliced, and the SAME oracle as q144 gates the streamed path: a
    * hash-equal search proves micro-batching changed nothing about the
    * persisted IVFADC artifact.
    */
  val ivfPqStreamAppend: QuerySpec = {
    val (clusters, nProbe, coarseIters) = (16, 4, 1)
    val (m, dim, codes, pqIters, k, nQ) = (8, 64, 16, 1, 3, 10)
    QuerySpec.sql(
      "q150_ivfpq_stream",
      ivfPqResidualAppendOracleSql(clusters, nProbe, coarseIters, m, dim,
        codes, pqIters, k, nQ)
    ) { (spark, dir) =>
      val all0 = graft.CacheScope.cache(Tables.load(spark, dir, "embeddings"))
      val root = graft.Scratch.fresh("q150")
      // copy-on-write from the shared immutable base generation (this
      // gate appends the streamed delta into its copy)
      val idx = graft.Scratch.cloneBase(SharedIndexes.ivfPqResidual(
        spark, dir, "base", clusters, m, dim, codes, coarseIters, pqIters),
        "q150_ivfpq_res")
      // the delta replays as three REAL micro-batches
      graft.streaming.Replay.files(root,
        all0.filter(col("vec_id") % 5 === 0)
          .select(col("vec_id"), col("embedding"),
            pmod(hash(col("vec_id")), lit(3)).as("wave")),
        "wave", 3) { (batch, _) =>
        graft.operators.IvfPq.appendIndex(batch, "vec_id", "embedding", idx)
      }
      val queries = all0.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.IvfPq.searchIndex(spark, idx, "vec_id",
          queries, "qid", "qv", k = k, nProbe = nProbe)
        .select(col("qid"), col("neighbor"),
          round(col("approx_dist") + lit(1e-9), 4).as("approx_dist"))
        .orderBy(col("qid"), col("approx_dist"), col("neighbor"))
    }
  }

  /** q151 oracle: the q142 residual chain with `probe_rank` threaded
    * through the query-side residual/ADC CTEs, an exact squared-L2
    * ground-truth top-k, and the q89 sweep/hits/recall tail.
    */
  private def ivfPqRecallOracleSql(clusters: Int, nProbes: Seq[Int],
      coarseIters: Int, m: Int, dim: Int, codes: Int, pqIters: Int,
      k: Int, nQueries: Int): String = {
    import Vectors.dotSql
    val sub = dim / m
    s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
      |${coarseCtes(clusters, nProbes.max, coarseIters, dim, nQueries)},
      |rv AS (
      |  SELECT f.vec_id, f.cell,
      |    [CAST(v.embedding[i] - c.cvec[i] AS FLOAT)
      |     FOR i IN generate_series(1, $dim)] AS rv
      |  FROM af f JOIN corpus v USING (vec_id)
      |  JOIN c${coarseIters}n c ON c.cell = f.cell),
      |${pqCtes(m, dim, codes, pqIters, nQueries, src = "rv", vcol = "rv")},
      |gt AS (
      |  SELECT qid, neighbor FROM (
      |    SELECT q.vec_id AS qid, v.vec_id AS neighbor,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY ${dotSql("q.embedding", "q.embedding")}
      |          + ${dotSql("v.embedding", "v.embedding")}
      |          - 2.0 * ${dotSql("q.embedding", "v.embedding")}, v.vec_id) AS rk
      |    FROM corpus q JOIN corpus v
      |      ON q.vec_id < $nQueries AND v.vec_id <> q.vec_id) t
      |  WHERE rk <= $k),
      |qrv AS (
      |  SELECT p.qid, p.cell, p.probe_rank,
      |    [CAST(q.embedding[i] - c.cvec[i] AS FLOAT)
      |     FOR i IN generate_series(1, $dim)] AS rv
      |  FROM probes p JOIN corpus q ON q.vec_id = p.qid
      |  JOIN c${coarseIters}n c ON c.cell = p.cell),
      |qsub AS (
      |  SELECT qid, cell, probe_rank, s.m AS m,
      |    list_slice(rv, s.m * $sub + 1, s.m * $sub + $sub) AS sv
      |  FROM qrv CROSS JOIN range(0, $m) s(m)),
      |adc_res AS (
      |  SELECT v.qid, v.cell, v.probe_rank, v.m, c.cell AS code_cell,
      |    ${dotSql("v.sv", "v.sv")} + c.cnorm2
      |      - 2.0 * ${dotSql("v.sv", "c.cvec")} AS d
      |  FROM qsub v JOIN p${pqIters}n c ON v.m = c.m),
      |scored AS (
      |  SELECT a.qid, a.probe_rank, e.vec_id AS neighbor,
      |    list_sum(list(a.d ORDER BY a.m)) AS approx_dist
      |  FROM enc e
      |  JOIN af f ON f.vec_id = e.vec_id
      |  JOIN adc_res a ON a.cell = f.cell AND a.m = e.m
      |    AND a.code_cell = e.code
      |  WHERE a.qid <> e.vec_id
      |  GROUP BY a.qid, a.probe_rank, e.vec_id),
      |sweep(n_probe) AS (VALUES ${nProbes.map(p => s"($p)").mkString(", ")}),
      |ivf AS (
      |  SELECT n_probe, qid, neighbor FROM (
      |    SELECT s.n_probe, c.qid, c.neighbor,
      |      row_number() OVER (PARTITION BY s.n_probe, c.qid
      |        ORDER BY c.approx_dist, c.neighbor) AS rk
      |    FROM sweep s JOIN scored c ON c.probe_rank <= s.n_probe) t
      |  WHERE rk <= $k),
      |hits AS (
      |  SELECT i.n_probe, count(*) AS hits
      |  FROM ivf i JOIN gt g ON g.qid = i.qid AND g.neighbor = i.neighbor
      |  GROUP BY i.n_probe),
      |tot AS (SELECT count(*) AS n_truth FROM gt)
      |SELECT s.n_probe, CAST(n_truth AS BIGINT) AS n_truth,
      |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
      |  round(CAST(coalesce(h.hits, 0) AS DOUBLE) / n_truth + 1e-9, 4)
      |    AS recall
      |FROM sweep s CROSS JOIN tot
      |LEFT JOIN hits h ON h.n_probe = s.n_probe
      |ORDER BY s.n_probe""".stripMargin
  }

  /** The q89 calibration instrument for the COMPOSED residual index
    * ([[graft.operators.IvfPq.recallSweepResidual]]): recall@k of the
    * residual-ADC search against exact squared-L2 ground truth, per
    * probe budget, on the bounded query sample. Plain IVF's sweep
    * (q89) isolates cell-pruning loss; this one folds in quantization
    * error too — a candidate can sit in a probed cell and still fall
    * out of the top-k because its ADC distance reordered — which is
    * the number that actually picks `nProbe` (and validates
    * `m`/`codes`) for an IVFADC deployment. Trains once, scores one
    * candidate join at the widest probe, reads every sweep point off
    * that frame; the oracle replays the full residual chain with
    * probe_rank threaded through and the same sweep tail as q89.
    */
  val ivfPqRecall: QuerySpec = {
    val (clusters, coarseIters) = (16, 1)
    val (m, dim, codes, pqIters, k, nQ) = (8, 64, 16, 1, 3, 10)
    val nProbes = Seq(1, 2, 4)
    QuerySpec.sql(
      "q151_ivfpq_recall",
      ivfPqRecallOracleSql(clusters, nProbes, coarseIters, m, dim, codes,
        pqIters, k, nQ)
    ) { (spark, dir) =>
      graft.operators.IvfPq.recallSweepResidual(
        Tables.load(spark, dir, "embeddings"), "vec_id", "embedding",
        nQueries = nQ, k = k, clusters = clusters, nProbes = nProbes,
        m = m, dim = dim, codes = codes, coarseIters = coarseIters,
        pqIters = pqIters)
    }
  }

  /** Media near-dup gating through the ANN tier — the embedding-side
    * media dedup a real curation pipeline runs NEXT TO q122's exact
    * block-checksum gate: per-asset feature vectors come from REAL
    * pixel bytes (the 2×2 mean-luminance grid
    * [[graft.expressions.PpmLumaGrid]] computes over each decoded P6
    * payload — means survive the byte-level re-encodes checksums trip
    * on), are indexed by the q58 IVF quantizer, a bounded probe batch
    * searches its nProbe cells, and the cosine neighborhood flags
    * near-dup media. The oracle rebuilds the features by replaying the
    * pixel-generating formula per grid cell — never the parse — then
    * replays the unrolled-Lloyd chain over them, so byte decode +
    * feature extraction + training + probe + gate all hash-match.
    */
  /** DuckDB replay of the 2×2 mean-luminance media features
    * ([[graft.expressions.PpmLumaGrid]] over [[graft.multimodal
    * .Multimodal.ppmAssets]]'s real P6 blobs): per grid cell, the
    * pixel-generating formula summed over the cell's pixels — the
    * oracle never parses bytes, so the Spark side's byte-level decode
    * is what the hash compare verifies. Shared by q139 and q188.
    */
  private def lumaAssetCte: String = {
    def cellOf(p: String) = s"(($p // w) * 2 // h) * 2 + (($p % w) * 2 // w)"
    def pix(j: String) = s"(doc_id*31 + ($j)*7 + (($j)*($j))%251) % 256"
    s"""SELECT doc_id AS vec_id,
      |    [CAST(
      |       list_sum([ (${pix("3*p")} + ${pix("3*p+1")} + ${pix("3*p+2")})
      |          FOR p IN range(0, CAST(w AS BIGINT)*h) IF ${cellOf("p")} = c ])
      |       / (3.0 * len([1 FOR p IN range(0, CAST(w AS BIGINT)*h)
      |                     IF ${cellOf("p")} = c]))
      |     AS FLOAT) FOR c IN range(0, 4)] AS embedding
      |  FROM (SELECT doc_id, 16 + doc_id % 17 AS w, 12 + doc_id % 11 AS h
      |        FROM documents) s""".stripMargin
  }

  /** Spark side of [[lumaAssetCte]]: features from the ACTUAL payload
    * bytes via the codegen grid kernel.
    */
  private def lumaFeatures(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SharedIndexes.mediaLumaFeatures(spark, dir)

  val mediaAnnGate: QuerySpec = {
    val assetCte = lumaAssetCte
    QuerySpec.sql(
      "q139_media_ann",
      s"""SELECT qid, neighbor, cosine, cosine >= 0.9995 AS near_dup
        |FROM (${ivfOracleSql(clusters = 8, nProbe = 2, iters = 2, k = 3,
          dim = 4, nQueries = 10, corpusCte = assetCte)}) t
        |ORDER BY qid, cosine DESC, neighbor""".stripMargin
    ) { (spark, dir) =>
      // shared immutable media index (decode + train once) — probed
      // READ-ONLY; partitioned serving equals the in-memory chain by
      // the q104 equivalence contract
      val idx = SharedIndexes.mediaIvf(spark, dir, clusters = 8, iters = 2)
      val queries = lumaFeatures(spark, dir).filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.IvfAnn.searchIndex(spark, idx, "vec_id", "embedding",
          queries, "qid", "qv", k = 3, nProbe = 2)
        .select(col("qid"), col("neighbor"),
          round(col("cosine") + lit(1e-9), 4).as("cosine"))
        .withColumn("near_dup", col("cosine") >= 0.9995)
        .orderBy(col("qid"), col("cosine").desc, col("neighbor"))
    }
  }

  /** DuckDB oracle for [[graft.operators.ScalarQuantizer]] — per-
    * dimension float min/max (`stats`, trained on `statsSrc` so the
    * index queries can train on the BASE generation only), encode→decode
    * fused per vector (`dec` — the exact arithmetic ORDER the codegen
    * kernel uses: subtract, ·255, divide by the double `hi − lo`,
    * half-up round, clamp, then `lo + (code · (hi − lo)) / 255`), and
    * the asymmetric distance as a left-fold `list_sum` — bit-identical
    * to [[graft.expressions.SqL2Distance]]. `excludeIds` mirrors
    * tombstone masking.
    */
  private def sqOracleSql(dim: Int, k: Int, nQueries: Int,
      corpusCte: String = "SELECT vec_id, embedding FROM embeddings",
      statsSrc: String = "corpus",
      excludeIds: Seq[Long] = Nil): String = {
    val excl = if (excludeIds.isEmpty) ""
      else s" AND d.vec_id NOT IN (${excludeIds.mkString(",")})"
    s"""WITH corpus AS ($corpusCte),
      |stats AS (
      |  SELECT i.i AS pos, min(embedding[i.i]) AS lo,
      |    max(embedding[i.i]) AS hi
      |  FROM $statsSrc CROSS JOIN range(1, ${dim + 1}) i(i)
      |  GROUP BY i.i),
      |dec AS (
      |  SELECT c.vec_id,
      |    list(CAST(s.lo AS DOUBLE)
      |      + (CASE WHEN s.hi > s.lo THEN GREATEST(0.0, LEAST(255.0,
      |           round(((CAST(c.embedding[s.pos] AS DOUBLE)
      |                   - CAST(s.lo AS DOUBLE)) * 255.0)
      |             / (CAST(s.hi AS DOUBLE) - CAST(s.lo AS DOUBLE)))))
      |         ELSE 0.0 END
      |         * (CAST(s.hi AS DOUBLE) - CAST(s.lo AS DOUBLE))) / 255.0
      |      ORDER BY s.pos) AS xhat
      |  FROM corpus c CROSS JOIN stats s
      |  GROUP BY c.vec_id),
      |scored AS (
      |  SELECT q.vec_id AS qid, d.vec_id AS neighbor,
      |    list_sum(list_transform(range(1, ${dim + 1}),
      |      i -> (CAST(q.embedding[i] AS DOUBLE) - d.xhat[i])
      |         * (CAST(q.embedding[i] AS DOUBLE) - d.xhat[i])))
      |      AS approx_dist
      |  FROM dec d CROSS JOIN corpus q
      |  WHERE q.vec_id < $nQueries AND q.vec_id <> d.vec_id$excl)
      |SELECT qid, neighbor, round(approx_dist + 1e-9, 4) AS approx_dist
      |FROM (SELECT *, row_number() OVER (PARTITION BY qid
      |        ORDER BY approx_dist, neighbor) AS rk FROM scored) r
      |WHERE rk <= $k
      |ORDER BY qid, approx_dist, neighbor""".stripMargin
  }

  /** SQ8 compressed-brute-force search
    * ([[graft.operators.ScalarQuantizer.search]]) — the third
    * quantization tier beside PQ (q83) and IVFADC (q142): one min/max
    * scan trains per-dimension 8-bit ranges, every corpus vector is
    * scored against every query through the fused decode+distance
    * codegen kernel (near-exact recall, 4× less I/O than the float
    * corpus), top-k per query. Oracle replays the identical encode/
    * decode/fold arithmetic in SQL.
    */
  val sqSearch: QuerySpec = {
    val (k, nQ, dim) = (3, 10, 64)
    QuerySpec.sql("q152_sq_search", sqOracleSql(dim, k, nQ)) { (spark, dir) =>
      val corpus = Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val queries = corpus.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.ScalarQuantizer.search(corpus, "vec_id", "embedding",
          queries, "qid", "qv", k = k)
        .select(col("qid"), col("neighbor"),
          round(col("approx_dist") + lit(1e-9), 4).as("approx_dist"))
        .orderBy(col("qid"), col("approx_dist"), col("neighbor"))
    }
  }

  /** Persisted SQ8 index lifecycle in one gate
    * ([[graft.operators.ScalarQuantizer.writeIndex]]/`appendIndex`/
    * `deleteFromIndex`/`searchIndex`): the index trains and writes on
    * the BASE generation, a +0.5-shifted delta (new-encoder appends)
    * encodes through the STORED stats — shifted dimensions exceed the
    * trained range, so the clamp saturates them at code 255 in BOTH
    * engines — one id is forgotten via a tombstone marker, and the
    * search serves codes-only with the marker masked. Oracle: stats
    * over the base slice, decode over the full corpus, deleted id
    * excluded.
    */
  val sqIndex: QuerySpec = {
    val (k, nQ, dim) = (3, 10, 64)
    QuerySpec.sql(
      "q153_sq_index",
      sqOracleSql(dim, k, nQ,
        corpusCte = """SELECT vec_id,
          |    CASE WHEN vec_id % 5 = 0
          |      THEN list_transform(embedding,
          |             x -> CAST(CAST(x AS DOUBLE) + 0.5 AS REAL))
          |      ELSE embedding END AS embedding
          |  FROM embeddings""".stripMargin,
        statsSrc = "(SELECT * FROM corpus WHERE vec_id % 5 <> 0)",
        excludeIds = Seq(3L))
    ) { (spark, dir) =>
      import spark.implicits._
      val all0 = graft.CacheScope.cache(Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding")))
      val base = all0.filter(col("vec_id") % 5 =!= 0)
      val delta = all0.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") + lit(0.5)).cast("float"))
            .as("embedding"))
      // copy-on-write from the shared immutable base-slice index (this
      // gate appends a shifted delta and deletes)
      val idx = graft.Scratch.cloneBase(
        SharedIndexes.sqIndex(spark, dir, "base"), "q153_sq")
      graft.operators.ScalarQuantizer.appendIndex(delta, "vec_id",
        "embedding", idx)
      graft.operators.ScalarQuantizer.deleteFromIndex(spark, idx,
        Seq(3L).toDF("vec_id"), "vec_id")
      val queries = base.unionByName(delta).filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.ScalarQuantizer.searchIndex(spark, idx, "vec_id",
          queries, "qid", "qv", k = k)
        .select(col("qid"), col("neighbor"),
          round(col("approx_dist") + lit(1e-9), 4).as("approx_dist"))
        .orderBy(col("qid"), col("approx_dist"), col("neighbor"))
    }
  }

  /** DuckDB oracle CTEs for [[graft.operators.BinaryQuantizer]]:
    * midrange thresholds from the same min/max scan SQ8 uses
    * (order-independent, bit-stable — a mean would depend on summation
    * order), bit-pack 64 dims per BIGINT word (bit 63's power is the
    * two's-complement MinValue literal so neither engine hits
    * shift/overflow checks; the HUGEINT sum casts back exactly), Hamming
    * via `bit_count(xor(...))` summed per word — integer end to end.
    */
  private def bqPackedCtes(dim: Int, nQueries: Int,
      corpusCte: String = "SELECT vec_id, embedding FROM embeddings",
      statsSrc: String = "corpus",
      excludeIds: Seq[Long] = Nil,
      statsName: String = "stats"): String = {
    // statsName dodges CTE-name collisions when these CTEs share a WITH
    // clause with TextIndex.bm25CtesSql (which also defines `stats`)
    val excl = if (excludeIds.isEmpty) ""
      else s" AND d.vec_id NOT IN (${excludeIds.mkString(",")})"
    s"""corpus AS ($corpusCte),
      |$statsName AS (
      |  SELECT i.i AS pos,
      |    (CAST(min(embedding[i.i]) AS DOUBLE)
      |     + CAST(max(embedding[i.i]) AS DOUBLE)) / 2.0 AS mid
      |  FROM $statsSrc CROSS JOIN range(1, ${dim + 1}) i(i)
      |  GROUP BY i.i),
      |packed AS (
      |  SELECT c.vec_id, (s.pos - 1) // 64 AS wd,
      |    CAST(sum(CASE WHEN CAST(c.embedding[s.pos] AS DOUBLE) > s.mid
      |      THEN CASE WHEN s.pos % 64 = 0 THEN -9223372036854775808
      |           ELSE (CAST(1 AS BIGINT) << ((s.pos - 1) % 64)) END
      |      ELSE 0 END) AS BIGINT) AS w
      |  FROM corpus c CROSS JOIN $statsName s
      |  GROUP BY c.vec_id, (s.pos - 1) // 64),
      |ham AS (
      |  SELECT q.vec_id AS qid, d.vec_id AS neighbor,
      |    CAST(sum(bit_count(xor(q.w, d.w))) AS INTEGER) AS hamming
      |  FROM packed d JOIN packed q
      |    ON q.wd = d.wd AND q.vec_id < $nQueries
      |      AND d.vec_id <> q.vec_id$excl
      |  GROUP BY q.vec_id, d.vec_id)""".stripMargin
  }

  /** 1-bit binary-quantized Hamming top-k
    * ([[graft.operators.BinaryQuantizer.search]]) — the coarsest rung of
    * the quantization ladder (q27 float brute → q152 SQ8 → q83 PQ /
    * q142 IVFADC → this): 64× less resident data than float32 and a
    * one-XOR+POPCNT-per-word kernel, composed entirely from builtin
    * codegen functions. Integer distances, so the oracle has no float
    * surface at all.
    */
  val bqSearch: QuerySpec = {
    val (k, nQ, dim) = (3, 10, 64)
    QuerySpec.sql("q154_bq_search",
      s"""WITH ${bqPackedCtes(dim, nQ)}
        |SELECT qid, neighbor, hamming
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |        ORDER BY hamming, neighbor) AS rk FROM ham) r
        |WHERE rk <= $k
        |ORDER BY qid, hamming, neighbor""".stripMargin) { (spark, dir) =>
      val corpus = Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val queries = corpus.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.BinaryQuantizer.search(corpus, "vec_id", "embedding",
          queries, "qid", "qv", k = k)
        .orderBy(col("qid"), col("hamming"), col("neighbor"))
    }
  }

  /** Binary prefilter + exact re-rank
    * ([[graft.operators.BinaryQuantizer.searchRefined]]) — the
    * packed-codes scan shortlists `refine·k` per query, only the
    * shortlist rows fetch their float vectors, and the served distances
    * are EXACT squared L2 (the q146 refine shape at the cheapest tier).
    */
  val bqRefined: QuerySpec = {
    val (k, refine, nQ, dim) = (3, 4, 10, 64)
    QuerySpec.sql("q155_bq_refined",
      s"""WITH ${bqPackedCtes(dim, nQ)},
        |shortlist AS (
        |  SELECT qid, neighbor
        |  FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |          ORDER BY hamming, neighbor) AS rk FROM ham) r
        |  WHERE rk <= ${k * refine}),
        |exact AS (
        |  SELECT s.qid, s.neighbor,
        |    list_sum(list_transform(range(1, ${dim + 1}),
        |      i -> (CAST(q.embedding[i] AS DOUBLE)
        |              - CAST(d.embedding[i] AS DOUBLE))
        |         * (CAST(q.embedding[i] AS DOUBLE)
        |              - CAST(d.embedding[i] AS DOUBLE)))) AS dist
        |  FROM shortlist s
        |  JOIN corpus q ON q.vec_id = s.qid
        |  JOIN corpus d ON d.vec_id = s.neighbor)
        |SELECT qid, neighbor, round(dist + 1e-9, 4) AS dist
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |        ORDER BY dist, neighbor) AS rk FROM exact) r
        |WHERE rk <= $k
        |ORDER BY qid, dist, neighbor""".stripMargin) { (spark, dir) =>
      val corpus = Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val queries = corpus.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.BinaryQuantizer.searchRefined(corpus, "vec_id",
          "embedding", queries, "qid", "qv", k = k, refine = refine)
        .select(col("qid"), col("neighbor"),
          round(col("dist") + lit(1e-9), 4).as("dist"))
        .orderBy(col("qid"), col("dist"), col("neighbor"))
    }
  }

  /** Persisted binary-index lifecycle
    * ([[graft.operators.BinaryQuantizer.writeIndex]]/`appendIndex`/
    * `deleteFromIndex`/`searchIndexRefined`): thresholds train on the
    * BASE generation and version with the codes, a +0.5-shifted delta
    * packs through the STORED midranges (drifted dims saturate to the
    * frozen threshold's far side in BOTH engines), one id is forgotten
    * via a tombstone, and serving is codes-only prefilter + exact
    * re-rank whose floats come from the PRIMARY store — the index holds
    * no vectors (the 64×-compressed tier's realistic split). Oracle:
    * mids over the base slice, pack the full shifted corpus, deleted id
    * excluded, exact re-rank over the same corpus CTE.
    */
  val bqIndex: QuerySpec = {
    val (k, refine, nQ, dim) = (3, 4, 10, 64)
    QuerySpec.sql(
      "q157_bq_index",
      s"""WITH ${bqPackedCtes(dim, nQ,
          corpusCte = """SELECT vec_id,
            |    CASE WHEN vec_id % 5 = 0
            |      THEN list_transform(embedding,
            |             x -> CAST(CAST(x AS DOUBLE) + 0.5 AS REAL))
            |      ELSE embedding END AS embedding
            |  FROM embeddings""".stripMargin,
          statsSrc = "(SELECT * FROM corpus WHERE vec_id % 5 <> 0)",
          excludeIds = Seq(3L))},
        |shortlist AS (
        |  SELECT qid, neighbor
        |  FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |          ORDER BY hamming, neighbor) AS rk FROM ham) r
        |  WHERE rk <= ${k * refine}),
        |exact AS (
        |  SELECT s.qid, s.neighbor,
        |    list_sum(list_transform(range(1, ${dim + 1}),
        |      i -> (CAST(q.embedding[i] AS DOUBLE)
        |              - CAST(d.embedding[i] AS DOUBLE))
        |         * (CAST(q.embedding[i] AS DOUBLE)
        |              - CAST(d.embedding[i] AS DOUBLE)))) AS dist
        |  FROM shortlist s
        |  JOIN corpus q ON q.vec_id = s.qid
        |  JOIN corpus d ON d.vec_id = s.neighbor)
        |SELECT qid, neighbor, round(dist + 1e-9, 4) AS dist
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |        ORDER BY dist, neighbor) AS rk FROM exact) r
        |WHERE rk <= $k
        |ORDER BY qid, dist, neighbor""".stripMargin
    ) { (spark, dir) =>
      import spark.implicits._
      val all0 = graft.CacheScope.cache(Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding")))
      val base = all0.filter(col("vec_id") % 5 =!= 0)
      val delta = all0.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") + lit(0.5)).cast("float"))
            .as("embedding"))
      // copy-on-write from the shared immutable base-slice index (this
      // gate appends a shifted delta and deletes)
      val idx = graft.Scratch.cloneBase(
        SharedIndexes.bqIndex(spark, dir, "base"), "q157_bq")
      graft.operators.BinaryQuantizer.appendIndex(delta, "vec_id",
        "embedding", idx)
      graft.operators.BinaryQuantizer.deleteFromIndex(spark, idx,
        Seq(3L).toDF("vec_id"), "vec_id")
      val primary = base.unionByName(delta)
      val queries = primary.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.BinaryQuantizer.searchIndexRefined(spark, idx,
          primary, "vec_id", "embedding", queries, "qid", "qv",
          k = k, refine = refine)
        .select(col("qid"), col("neighbor"),
          round(col("dist") + lit(1e-9), 4).as("dist"))
        .orderBy(col("qid"), col("dist"), col("neighbor"))
    }
  }

  /** Shared oracle CTEs for the binary-tier calibration (q158) and the
    * calibration-routed serving (q159): [[bqPackedCtes]]' Hamming frame
    * for the first `nServe` queries, the Hamming RANK threaded through
    * the widest-budget shortlist (the q151 probe_rank trick at 1 bit),
    * exact squared-L2 over every shortlist row (the q155 re-rank
    * arithmetic — fold order identical to the Spark kernel), exact
    * ground truth for the `nCal` calibration queries, and the
    * sweep/hits/tot scoring tail.
    */
  private def bqSweepCtes(dim: Int, nServe: Int, nCal: Int, k: Int,
      refines: Seq[Int]): String = {
    def l2Sql(a: String, b: String) =
      s"""list_sum(list_transform(range(1, ${dim + 1}),
        |      i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
        |         * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))"""
        .stripMargin
    s"""${bqPackedCtes(dim, nServe)},
      |hamrk AS (
      |  SELECT qid, neighbor, hamming,
      |    row_number() OVER (PARTITION BY qid
      |      ORDER BY hamming, neighbor) AS ham_rk
      |  FROM ham),
      |gt AS (
      |  SELECT qid, neighbor FROM (
      |    SELECT q.vec_id AS qid, d.vec_id AS neighbor,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY ${l2Sql("q.embedding", "d.embedding")},
      |          d.vec_id) AS rk
      |    FROM corpus q JOIN corpus d
      |      ON q.vec_id < $nCal AND d.vec_id <> q.vec_id) t
      |  WHERE rk <= $k),
      |exact AS (
      |  SELECT s.qid, s.neighbor, s.ham_rk,
      |    ${l2Sql("q.embedding", "d.embedding")} AS dist
      |  FROM hamrk s JOIN corpus q ON q.vec_id = s.qid
      |  JOIN corpus d ON d.vec_id = s.neighbor
      |  WHERE s.ham_rk <= ${k * refines.max}),
      |sweep(refine) AS (VALUES ${refines.map(r => s"($r)").mkString(", ")}),
      |sel AS (
      |  SELECT refine, qid, neighbor FROM (
      |    SELECT s.refine, e.qid, e.neighbor,
      |      row_number() OVER (PARTITION BY s.refine, e.qid
      |        ORDER BY e.dist, e.neighbor) AS rk
      |    FROM sweep s JOIN exact e
      |      ON e.ham_rk <= s.refine * $k AND e.qid < $nCal) t
      |  WHERE rk <= $k),
      |hits AS (
      |  SELECT s.refine, count(*) AS hits
      |  FROM sel s JOIN gt g ON g.qid = s.qid AND g.neighbor = s.neighbor
      |  GROUP BY s.refine),
      |tot AS (SELECT count(*) AS n_truth FROM gt)""".stripMargin
  }

  /** Recall calibration for the binary tier
    * ([[graft.operators.BinaryQuantizer.recallSweep]]) — the q89/q151
    * instrument at the cheapest ladder rung: recall@k of the Hamming
    * prefilter + exact re-rank against exact squared-L2 ground truth,
    * per refine budget. Trains once, scans once at the WIDEST budget
    * with the Hamming rank threaded, re-ranks once, and every sweep
    * point reads off that frame — the number that prices the
    * shortlist-width knob for the 64×-compressed tier.
    */
  val bqRecall: QuerySpec = {
    val (k, nQ, dim) = (3, 10, 64)
    val refines = Seq(1, 2, 4, 8)
    QuerySpec.sql(
      "q158_bq_recall",
      s"""WITH ${bqSweepCtes(dim, nQ, nQ, k, refines)}
        |SELECT s.refine, CAST(t.n_truth AS BIGINT) AS n_truth,
        |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
        |  round(CAST(coalesce(h.hits, 0) AS DOUBLE) / t.n_truth + 1e-9, 4)
        |    AS recall
        |FROM sweep s CROSS JOIN tot t
        |LEFT JOIN hits h ON h.refine = s.refine
        |ORDER BY s.refine""".stripMargin
    ) { (spark, dir) =>
      graft.operators.BinaryQuantizer.recallSweep(
        Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", nQueries = nQ, k = k, refines = refines)
    }
  }

  /** Calibration-routed serving ([[graft.operators.AnnRouter
    * .routeBinaryRefine]]) — cost-based index selection closing the
    * quantization-ladder story: the q158 sweep prices every refine
    * budget on the batch's bounded calibration slice, the router picks
    * the CHEAPEST budget whose measured recall meets the target (capped
    * at the widest measured), and the batch serves through it — with
    * calibration and serving reading the SAME widest-budget ranked
    * frame, so pricing four budgets costs one binary scan. The oracle
    * replays sweep → choose (min budget meeting target, else max) →
    * serve off the identical frame, so the routing DECISION hash-checks
    * too (the `refine` output column).
    */
  val annRouted: QuerySpec = {
    val (k, nServe, nCal, dim) = (3, 20, 10, 64)
    val refines = Seq(1, 2, 4, 8)
    val target = 0.25
    QuerySpec.sql(
      "q159_ann_routed",
      s"""WITH ${bqSweepCtes(dim, nServe, nCal, k, refines)},
        |cal AS (
        |  SELECT s.refine,
        |    round(CAST(coalesce(h.hits, 0) AS DOUBLE) / t.n_truth + 1e-9,
        |      4) AS recall
        |  FROM sweep s CROSS JOIN tot t
        |  LEFT JOIN hits h ON h.refine = s.refine),
        |chosen AS (
        |  SELECT CAST(coalesce(
        |      min(CASE WHEN recall >= $target THEN refine END),
        |      max(refine)) AS INTEGER) AS refine
        |  FROM cal),
        |served AS (
        |  SELECT e.qid, e.neighbor, e.dist, c.refine,
        |    row_number() OVER (PARTITION BY e.qid
        |      ORDER BY e.dist, e.neighbor) AS rk
        |  FROM exact e CROSS JOIN chosen c
        |  WHERE e.ham_rk <= c.refine * $k)
        |SELECT qid, neighbor, round(dist + 1e-9, 4) AS dist, refine
        |FROM served WHERE rk <= $k
        |ORDER BY qid, dist, neighbor""".stripMargin
    ) { (spark, dir) =>
      val corpus = Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val queries = corpus.filter(col("vec_id") < nServe)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.AnnRouter.routeBinaryRefine(corpus, "vec_id",
          "embedding", queries, "qid", "qv", k = k, refines = refines,
          target = target, calFilter = col("qid") < nCal)
        .select(col("qid"), col("neighbor"),
          round(col("dist") + lit(1e-9), 4).as("dist"), col("refine"))
        .orderBy(col("qid"), col("dist"), col("neighbor"))
    }
  }

  /** Hybrid lexical+vector retrieval fused by Reciprocal Rank Fusion —
    * the production RAG/retrieval shape: a BM25 leg served from the
    * persisted inverted index ([[graft.operators.TextIndex]], top-10
    * per query) and an exact-cosine vector leg over `embeddings`
    * (top-10, the q27 kernel) are fused per (query, doc) by
    * `Σ 1/(60 + rank)` (Cormack et al.'s RRF — rank-based, so the two
    * legs' incomparable score scales never need calibration), summed
    * through the decimal grid and re-ranked to a final top-5. The two
    * legs join on the shared id domain (`doc_id` = `vec_id`). At scale
    * each leg is independently index-served (bucket-pruned postings /
    * cell-pruned IVF) and the fusion itself touches only 2·10 rows per
    * query — the fusion cost is bounded by the leg budgets, never by
    * corpus size. The oracle replays both legs and the fusion; rank
    * arithmetic is integer, so the only float surfaces are the legs'
    * own (already gate-proven) kernels and the exact 1/(60+r) grid sum.
    */
  val hybridRrf: QuerySpec = {
    val (nQ, kLeg, kOut) = (6, 10, 5)
    QuerySpec.sql(
      "q161_hybrid_rrf",
      s"""WITH ${graft.operators.TextIndex.bm25CtesSql(
          "SELECT doc_id, text FROM documents",
          s"SELECT doc_id AS qid, text FROM documents WHERE doc_id < $nQ")},
        |bmrank AS (SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
        |    ORDER BY score DESC, doc_id) AS rk FROM scored),
        |e AS (SELECT vec_id, embedding FROM embeddings),
        |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id < $nQ),
        |cos AS (
        |  SELECT qid, vec_id, ${Vectors.cosineSql("qv", "embedding")} AS cos
        |  FROM q JOIN e ON ${Vectors.normSql("qv")} > 0
        |    AND ${Vectors.normSql("embedding")} > 0),
        |vrank AS (SELECT qid, vec_id AS doc_id, row_number() OVER (
        |    PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk FROM cos),
        |legs AS (
        |  SELECT qid, doc_id, 1.0 / CAST(60 + rk AS DOUBLE) AS c
        |  FROM bmrank WHERE rk <= $kLeg
        |  UNION ALL
        |  SELECT qid, doc_id, 1.0 / CAST(60 + rk AS DOUBLE) AS c
        |  FROM vrank WHERE rk <= $kLeg),
        |fused AS (SELECT qid, doc_id,
        |    ${graft.functions.Stable.sumDSql("c")} AS rrf
        |  FROM legs GROUP BY 1, 2),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY rrf DESC, doc_id) AS rk FROM fused)
        |SELECT qid, CAST(rk AS BIGINT) AS rank, doc_id,
        |  round(rrf + 1e-9, 6) AS rrf
        |FROM ranked WHERE rk <= $kOut
        |ORDER BY qid, rank""".stripMargin
    ) { (spark, dir) =>
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      // shared immutable full-corpus index — probed READ-ONLY
      val idx = SharedIndexes.textFull(spark, dir)
      val bmLeg = graft.operators.TextIndex.searchTopK(spark, idx,
          docs.filter(col("doc_id") < nQ)
            .select(col("doc_id").as("qid"), col("text")),
          "qid", "text", k = kLeg)
        .select(col("qid"), col("doc_id"), col("rank").as("rk"))
      val e = Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val q = e.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val vLeg = broadcast(q)
        .join(e, Vectors.norm(col("qv")) > 0 &&
          Vectors.norm(col("embedding")) > 0)
        .select(col("qid"), col("vec_id").as("doc_id"),
          Vectors.cosine(col("qv"), col("embedding")).as("cos"))
        .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("doc_id"))).cast("long"))
        .filter(col("rk") <= kLeg)
        .select(col("qid"), col("doc_id"), col("rk"))
      val contrib = (f: org.apache.spark.sql.DataFrame) => f.select(
        col("qid"), col("doc_id"),
        (lit(1.0) / (lit(60L) + col("rk")).cast("double")).as("c"))
      contrib(bmLeg).unionByName(contrib(vLeg))
        .groupBy(col("qid"), col("doc_id"))
        .agg(graft.functions.Stable.sumD(col("c")).as("rrf"))
        .withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("rrf").desc, col("doc_id"))).cast("long"))
        .filter(col("rank") <= kOut)
        .select(col("qid"), col("rank"), col("doc_id"),
          round(col("rrf") + lit(1e-9), 6).as("rrf"))
        .orderBy(col("qid"), col("rank"))
    }
  }

  /** Hybrid retrieval served from the PERSISTED indexes — the
    * production twin of q161 (whose BM25 leg indexed in-query and whose
    * vector leg was brute-force cosine): the keyword leg probes the
    * on-disk BM25 inverted index ([[graft.operators.TextIndex
    * .searchTopK]] — postings partition-pruned to the query terms'
    * buckets), the vector leg probes the on-disk 1-bit binary index
    * ([[graft.operators.BinaryQuantizer.searchIndexRefined]] — a
    * codes-only Hamming prefilter whose `refine`·k shortlist alone
    * fetches float vectors from the primary store), and BOTH legs mask
    * the same logically-deleted ids through their own tombstone
    * lifecycles before rank fusion. Fusion is the q161 RRF grid
    * (integer ranks → exact 1/(60+r) decimal sums), so the only float
    * surfaces are the two legs' already-gate-proven kernels.
    *
    * Scale shape: each leg's probe cost is bounded by its own index
    * discipline (query-vocabulary buckets; 64x-compressed codes scan +
    * byte-bounded shortlist fetch) — NOTHING in the fused plan scans or
    * shuffles corpus-sized data, spec-pinned in `HybridServeSpec`. The
    * oracle replays both persisted chains (deletes excluded, binary
    * thresholds from the full write-time corpus) and the fusion.
    */
  val hybridPersisted: QuerySpec = {
    val (nQ, kLeg, kOut, refine, dim) = (6, 10, 5, 4, 64)
    val deleted = Seq(7L, 12L)
    QuerySpec.sql(
      "q182_hybrid_persisted",
      s"""WITH ${graft.operators.TextIndex.bm25CtesSql(
          "SELECT doc_id, text FROM documents WHERE doc_id NOT IN " +
            s"(${deleted.mkString(",")})",
          s"SELECT doc_id AS qid, text FROM documents WHERE doc_id < $nQ")},
        |bmrank AS (SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
        |    ORDER BY score DESC, doc_id) AS rk FROM scored),
        |${bqPackedCtes(dim, nQ, excludeIds = deleted, statsName = "bstats")},
        |shortlist AS (
        |  SELECT qid, neighbor
        |  FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |          ORDER BY hamming, neighbor) AS rk FROM ham) r
        |  WHERE rk <= ${kLeg * refine}),
        |exact AS (
        |  SELECT s.qid, s.neighbor,
        |    list_sum(list_transform(range(1, ${dim + 1}),
        |      i -> (CAST(q.embedding[i] AS DOUBLE)
        |              - CAST(d.embedding[i] AS DOUBLE))
        |         * (CAST(q.embedding[i] AS DOUBLE)
        |              - CAST(d.embedding[i] AS DOUBLE)))) AS dist
        |  FROM shortlist s
        |  JOIN corpus q ON q.vec_id = s.qid
        |  JOIN corpus d ON d.vec_id = s.neighbor),
        |vrank AS (SELECT qid, neighbor AS doc_id, row_number() OVER (
        |    PARTITION BY qid ORDER BY dist, neighbor) AS rk FROM exact),
        |legs AS (
        |  SELECT qid, doc_id, 1.0 / CAST(60 + rk AS DOUBLE) AS c
        |  FROM bmrank WHERE rk <= $kLeg
        |  UNION ALL
        |  SELECT qid, doc_id, 1.0 / CAST(60 + rk AS DOUBLE) AS c
        |  FROM vrank WHERE rk <= $kLeg),
        |fused AS (SELECT qid, doc_id,
        |    ${graft.functions.Stable.sumDSql("c")} AS rrf
        |  FROM legs GROUP BY 1, 2),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY rrf DESC, doc_id) AS rk FROM fused)
        |SELECT qid, CAST(rk AS BIGINT) AS rank, doc_id,
        |  round(rrf + 1e-9, 6) AS rrf
        |FROM ranked WHERE rk <= $kOut
        |ORDER BY qid, rank""".stripMargin
    ) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val emb = graft.CacheScope.cache(Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding")))
      val root = graft.Scratch.fresh("q182")
      val bIdx = root + "/bq"
      // copy-on-write from the shared immutable base (this gate deletes)
      val tIdx = graft.Scratch.cloneBase(
        SharedIndexes.textFull(spark, dir), "q182_text")
      graft.operators.TextIndex.delete(spark, tIdx,
        deleted.toDF("doc_id"), "doc_id")
      graft.Scratch.copyDir(SharedIndexes.bqIndex(spark, dir, "full"), bIdx)
      graft.operators.BinaryQuantizer.deleteFromIndex(spark, bIdx,
        deleted.toDF("vec_id"), "vec_id")
      val bmLeg = graft.operators.TextIndex.searchTopK(spark, tIdx,
          docs.filter(col("doc_id") < nQ)
            .select(col("doc_id").as("qid"), col("text")),
          "qid", "text", k = kLeg)
        .select(col("qid"), col("doc_id"), col("rank").as("rk"))
      val queries = emb.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val vLeg = graft.operators.BinaryQuantizer.searchIndexRefined(spark,
          bIdx, emb, "vec_id", "embedding", queries, "qid", "qv",
          k = kLeg, refine = refine)
        .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("dist"), col("neighbor"))).cast("long"))
        .select(col("qid"), col("neighbor").as("doc_id"), col("rk"))
      val contrib = (f: org.apache.spark.sql.DataFrame) => f.select(
        col("qid"), col("doc_id"),
        (lit(1.0) / (lit(60L) + col("rk")).cast("double")).as("c"))
      contrib(bmLeg).unionByName(contrib(vLeg))
        .groupBy(col("qid"), col("doc_id"))
        .agg(graft.functions.Stable.sumD(col("c")).as("rrf"))
        .withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("rrf").desc, col("doc_id"))).cast("long"))
        .filter(col("rank") <= kOut)
        .select(col("qid"), col("rank"), col("doc_id"),
          round(col("rrf") + lit(1e-9), 6).as("rrf"))
        .orderBy(col("qid"), col("rank"))
    }
  }

  /** CROSS-MODAL retrieval — q182's fusion machinery joined ACROSS
    * modalities on the asset↔document link (asset_id = doc_id): the
    * keyword leg probes the persisted BM25 inverted index over the
    * documents' TEXT, the media leg runs the q139 IVF search over
    * feature vectors decoded from the linked assets' PIXEL BYTES
    * ([[graft.expressions.PpmLumaGrid]] over real P6 payloads), and
    * RRF fuses per query: a candidate surfaces whether it matches in
    * words or in pixels. Completes the multimodal story decode →
    * features → index → fused serving.
    *
    * Determinism across engines: each leg's top-k set is its own
    * gate-proven chain (BM25 rank; IVF unrounded-cosine top-k); WITHIN
    * the fused legs the media rank is recomputed over the 4-decimal
    * ROUNDED cosine (ties → neighbor id) so both engines rank on
    * identical decimal surfaces. Scale shape: text probe is bucket-
    * pruned to query vocabulary, media probe scans nProbe cells, fusion
    * touches only `nQ · kLeg` rows per leg — nothing corpus-sized
    * shuffles after the two index probes.
    */
  val crossModalRrf: QuerySpec = {
    val (nQ, kLeg, kOut) = (6, 10, 5)
    QuerySpec.sql(
      "q188_crossmodal_rrf",
      s"""WITH ${graft.operators.TextIndex.bm25CtesSql(
          "SELECT doc_id, text FROM documents",
          s"SELECT doc_id AS qid, text FROM documents WHERE doc_id < $nQ")},
        |bmrank AS (SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
        |    ORDER BY score DESC, doc_id) AS rk FROM scored),
        |vrank AS (
        |  SELECT qid, neighbor AS doc_id, row_number() OVER (
        |      PARTITION BY qid ORDER BY cosine DESC, neighbor) AS rk
        |  FROM (${ivfOracleSql(clusters = 8, nProbe = 2, iters = 2,
            k = kLeg, dim = 4, nQueries = nQ, corpusCte = lumaAssetCte)}) vt),
        |legs AS (
        |  SELECT qid, doc_id, 1.0 / CAST(60 + rk AS DOUBLE) AS c
        |  FROM bmrank WHERE rk <= $kLeg
        |  UNION ALL
        |  SELECT qid, doc_id, 1.0 / CAST(60 + rk AS DOUBLE) AS c
        |  FROM vrank),
        |fused AS (SELECT qid, doc_id,
        |    ${graft.functions.Stable.sumDSql("c")} AS rrf
        |  FROM legs GROUP BY 1, 2),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY rrf DESC, doc_id) AS rk FROM fused)
        |SELECT qid, CAST(rk AS BIGINT) AS rank, doc_id,
        |  round(rrf + 1e-9, 6) AS rrf
        |FROM ranked WHERE rk <= $kOut
        |ORDER BY qid, rank""".stripMargin
    ) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      // read-only probe of the shared immutable base — no clone needed
      val tIdx = SharedIndexes.textFull(spark, dir)
      val bmLeg = graft.operators.TextIndex.searchTopK(spark, tIdx,
          docs.filter(col("doc_id") < nQ)
            .select(col("doc_id").as("qid"), col("text")),
          "qid", "text", k = kLeg)
        .select(col("qid"), col("doc_id"), col("rank").as("rk"))
      // shared immutable media index (decode + train once) — probed
      // READ-ONLY by this leg too
      val vIdx = SharedIndexes.mediaIvf(spark, dir, clusters = 8, iters = 2)
      val vQueries = lumaFeatures(spark, dir).filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val vLeg = graft.operators.IvfAnn.searchIndex(spark, vIdx, "vec_id",
          "embedding", vQueries, "qid", "qv", k = kLeg, nProbe = 2)
        .withColumn("rcos", round(col("cosine") + lit(1e-9), 4))
        .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("rcos").desc, col("neighbor"))).cast("long"))
        .select(col("qid"), col("neighbor").as("doc_id"), col("rk"))
      val contrib = (f: org.apache.spark.sql.DataFrame) => f.select(
        col("qid"), col("doc_id"),
        (lit(1.0) / (lit(60L) + col("rk")).cast("double")).as("c"))
      contrib(bmLeg).unionByName(contrib(vLeg))
        .groupBy(col("qid"), col("doc_id"))
        .agg(graft.functions.Stable.sumD(col("c")).as("rrf"))
        .withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("rrf").desc, col("doc_id"))).cast("long"))
        .filter(col("rank") <= kOut)
        .select(col("qid"), col("rank"), col("doc_id"),
          round(col("rrf") + lit(1e-9), 6).as("rrf"))
        .orderBy(col("qid"), col("rank"))
    }
  }

  /** Matryoshka truncated-dimension serving
    * ([[graft.operators.Matryoshka.searchRefined]]) — the TRAINING-FREE
    * rung of the quantization ladder (MRL embeddings order information
    * by coordinate, so the first 16 of 64 dims are themselves a valid
    * embedding): stage 1 scores squared L2 over the 16-dim prefix only
    * (4× less compute, and 4× less scan I/O when the prefix is stored
    * as its own column), the `refine·k` shortlist alone fetches
    * full-width floats through the byte-bounded shortlist join, and
    * served distances are EXACT full-dim L2 (the q146/q155 refine
    * contract). The oracle replays prefix fold → shortlist → exact
    * re-rank with the identical left-to-right index arithmetic.
    */
  val mrlRefined: QuerySpec = {
    val (dims, dim, k, refine, nQ) = (16, 64, 3, 4, 10)
    def l2Sql(a: String, b: String, n: Int): String =
      s"""list_sum(list_transform(range(1, ${n + 1}),
        |      i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
        |         * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))""".stripMargin
    QuerySpec.sql(
      "q168_mrl_refined",
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
        |pd AS (
        |  SELECT q.vec_id AS qid, d.vec_id AS neighbor,
        |    ${l2Sql("q.embedding", "d.embedding", dims)} AS pdist
        |  FROM corpus q JOIN corpus d
        |    ON q.vec_id < $nQ AND d.vec_id <> q.vec_id),
        |shortlist AS (
        |  SELECT qid, neighbor
        |  FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |          ORDER BY pdist, neighbor) AS rk FROM pd) r
        |  WHERE rk <= ${k * refine}),
        |exact AS (
        |  SELECT s.qid, s.neighbor,
        |    ${l2Sql("q.embedding", "d.embedding", dim)} AS dist
        |  FROM shortlist s
        |  JOIN corpus q ON q.vec_id = s.qid
        |  JOIN corpus d ON d.vec_id = s.neighbor)
        |SELECT qid, neighbor, round(dist + 1e-9, 4) AS dist
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |        ORDER BY dist, neighbor) AS rk FROM exact) r
        |WHERE rk <= $k
        |ORDER BY qid, dist, neighbor""".stripMargin
    ) { (spark, dir) =>
      val corpus = Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val queries = corpus.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.Matryoshka.searchRefined(corpus, "vec_id",
          "embedding", queries, "qid", "qv", dims = dims, dim = dim,
          k = k, refine = refine)
        .select(col("qid"), col("neighbor"),
          round(col("dist") + lit(1e-9), 4).as("dist"))
        .orderBy(col("qid"), col("dist"), col("neighbor"))
    }
  }

  /** Matryoshka truncation-width recall sweep — the q89/q151/q158
    * calibration leg for the MRL tier: recall@k of the prefix-only
    * stage-1 ranking at widths 8/16/32/64 against the exact full-dim
    * truth, the table that picks the truncation width (and therefore
    * the scan-byte budget) before a full-corpus rollout. Each width is
    * one bounded probe scan (nQ·corpus prefix folds); the widest point
    * doubles as a self-check — dims = dim MUST read recall 1.0. Reads
    * honestly low at narrow widths on this near-random fixture (real
    * MRL-trained embeddings front-load information; the sweep is how
    * you'd measure that, not assume it).
    */
  val mrlRecall: QuerySpec = {
    val (k, nQ, dim) = (3, 10, 64)
    val widths = Seq(8, 16, 32, 64)
    def l2Sql(a: String, b: String, n: Int): String =
      s"""list_sum(list_transform(range(1, ${n + 1}),
        |      i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
        |         * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))""".stripMargin
    val perWidth = widths.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS dims,
        |  CAST(count(*) AS BIGINT) AS hits,
        |  round(CAST(count(*) AS DOUBLE) / ${nQ * k} + 1e-9, 4) AS recall
        |FROM (
        |  SELECT qid, neighbor
        |  FROM (SELECT q.vec_id AS qid, d.vec_id AS neighbor,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY ${l2Sql("q.embedding", "d.embedding", d)}, d.vec_id) AS rk
        |    FROM corpus q JOIN corpus d
        |      ON q.vec_id < $nQ AND d.vec_id <> q.vec_id) r
        |  WHERE rk <= $k) t
        |JOIN gt USING (qid, neighbor)""".stripMargin
    }.mkString("\nUNION ALL\n")
    QuerySpec.sql(
      "q174_mrl_recall",
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
        |gt AS (
        |  SELECT qid, neighbor
        |  FROM (SELECT q.vec_id AS qid, d.vec_id AS neighbor,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY ${l2Sql("q.embedding", "d.embedding", dim)}, d.vec_id) AS rk
        |    FROM corpus q JOIN corpus d
        |      ON q.vec_id < $nQ AND d.vec_id <> q.vec_id) r
        |  WHERE rk <= $k)
        |$perWidth
        |ORDER BY dims""".stripMargin
    ) { (spark, dir) =>
      val corpus = graft.CacheScope.cache(Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding")))
      val queries = corpus.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val gt = graft.CacheScope.cache(
        graft.operators.Matryoshka.search(corpus, "vec_id", "embedding",
            queries, "qid", "qv", dims = dim, k = k)
          .select(col("qid"), col("neighbor")))
      widths.map { d =>
        graft.operators.Matryoshka.search(corpus, "vec_id", "embedding",
            queries, "qid", "qv", dims = d, k = k)
          .select(col("qid"), col("neighbor"))
          .join(gt, Seq("qid", "neighbor"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .select(lit(d.toLong).as("dims"), col("hits"),
            round(col("hits").cast("double") / lit((nQ * k).toDouble)
              + lit(1e-9), 4).as("recall"))
      }.reduce(_ unionByName _).orderBy(col("dims"))
    }
  }

  /** Cross-TIER cost-based routing ([[graft.operators.AnnRouter
    * .routeTiers]]) — the optimizer decision ABOVE q159's within-tier
    * budget: candidate tiers (binary codes 8 B/vec, MRL-16 64 B,
    * MRL-32 128 B, full floats 256 B) are priced by stage-1 scan bytes,
    * their SERVED recall is measured on the bounded calibration slice
    * against exact truth, and the batch routes through the cheapest
    * tier meeting the target (full floats always qualify, so a
    * decision always exists). Every tier re-ranks exactly, so tier choice
    * trades scan I/O against recall, never distance correctness. The
    * oracle replays all four serving chains, the calibration counts,
    * and the argmin — the emitted `tier` column hash-pins the DECISION,
    * the rows pin the winner's serving.
    */
  val tierRouted: QuerySpec = {
    val (k, refine, nServe, nCal, dim) = (3, 4, 10, 6, 64)
    val widths = Seq(16, 32)
    val target = 0.67
    def l2Sql(a: String, b: String, n: Int): String =
      s"""list_sum(list_transform(range(1, ${n + 1}),
        |      i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
        |         * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))""".stripMargin
    def rerank(slCte: String, out: String): String =
      s"""$out AS (
        |  SELECT qid, neighbor, dist,
        |    row_number() OVER (PARTITION BY qid ORDER BY dist, neighbor) AS rk
        |  FROM (SELECT s.qid, s.neighbor,
        |      ${l2Sql("q.embedding", "d.embedding", dim)} AS dist
        |    FROM $slCte s
        |    JOIN corpus q ON q.vec_id = s.qid
        |    JOIN corpus d ON d.vec_id = s.neighbor) x)""".stripMargin
    val mrlCtes = widths.map { d =>
      s"""mrlsl$d AS (
        |  SELECT qid, neighbor
        |  FROM (SELECT q.vec_id AS qid, d.vec_id AS neighbor,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY ${l2Sql("q.embedding", "d.embedding", d)}, d.vec_id) AS rk
        |    FROM corpus q JOIN corpus d
        |      ON q.vec_id < $nServe AND d.vec_id <> q.vec_id) r
        |  WHERE rk <= ${k * refine}),
        |${rerank(s"mrlsl$d", s"mrl$d")}""".stripMargin
    }.mkString(",\n")
    val calUnion = (Seq(("bq", dim / 8)) ++
      widths.map(d => (s"mrl$d", 4 * d)) ++ Seq(("exact", 4 * dim)))
      .map { case (name, cost) =>
        s"""SELECT '$name' AS tier, $cost AS cost, (
          |  SELECT CAST(count(*) AS DOUBLE) FROM $name t
          |  JOIN exact g ON g.qid = t.qid AND g.neighbor = t.neighbor
          |    AND g.rk <= $k
          |  WHERE t.rk <= $k AND t.qid < $nCal) / ${nCal * k} AS recall""".stripMargin
      }.mkString("\nUNION ALL\n")
    val servedUnion = (Seq("bq") ++ widths.map(d => s"mrl$d") ++ Seq("exact"))
      .map(n => s"SELECT qid, neighbor, dist, rk, '$n' AS tier FROM $n")
      .mkString("\nUNION ALL\n")
    QuerySpec.sql(
      "q175_tier_routed",
      s"""WITH ${bqPackedCtes(dim, nServe)},
        |bqsl AS (
        |  SELECT qid, neighbor
        |  FROM (SELECT *, row_number() OVER (PARTITION BY qid
        |          ORDER BY hamming, neighbor) AS rk FROM ham) r
        |  WHERE rk <= ${k * refine}),
        |${rerank("bqsl", "bq")},
        |$mrlCtes,
        |exsl AS (
        |  SELECT q.vec_id AS qid, d.vec_id AS neighbor
        |  FROM corpus q JOIN corpus d
        |    ON q.vec_id < $nServe AND d.vec_id <> q.vec_id),
        |${rerank("exsl", "exact")},
        |cal AS ($calUnion),
        |chosen AS (
        |  SELECT tier FROM cal WHERE recall >= $target
        |  ORDER BY cost, tier LIMIT 1),
        |served AS ($servedUnion)
        |SELECT s.qid, s.neighbor, round(s.dist + 1e-9, 4) AS dist, s.tier
        |FROM served s JOIN chosen c ON s.tier = c.tier
        |WHERE s.rk <= $k
        |ORDER BY s.qid, s.dist, s.neighbor""".stripMargin
    ) { (spark, dir) =>
      val corpus = Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val queries = corpus.filter(col("vec_id") < nServe)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      graft.operators.AnnRouter.routeTiers(corpus, "vec_id", "embedding",
          queries, "qid", "qv", k = k, refine = refine, widths = widths,
          dim = dim, target = target, calFilter = col("qid") < nCal)
        .select(col("qid"), col("neighbor"),
          round(col("dist") + lit(1e-9), 4).as("dist"), col("tier"))
        .orderBy(col("qid"), col("dist"), col("neighbor"))
    }
  }

  /** Corpus TOPIC PROFILE — "what's in my training set", the
    * clustering+labeling report every curation run starts from: the
    * deterministic IVF trainer clusters the embedding space (q58's
    * contract makes even the training oracle-replayable), every vector
    * hard-assigns to a cell (pure projection through the `NearestCell`
    * kernel), and each cell is LABELED by its member documents' top-3
    * tokens (docs join embeddings on the shared id domain; one
    * (cell, token) count + a k=3 bounded-heap top-k). Output: one row
    * per cell with its population and label string. At 100 TB the only
    * exchanges are the token-count groupBy and the ≤ cells·3-row
    * reduction — the corpus never moves to be clustered (assignment is
    * a scan-side projection).
    */
  val topicProfile: QuerySpec = {
    val (clusters, iters, dim) = (8, 2, 64)
    QuerySpec.sql(
      "q181_topic_profile",
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
        |${coarseCtes(clusters, 1, iters, dim, nQueries = 0)},
        |d AS (SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '')) AS tok
        |  FROM documents),
        |ct AS (SELECT af.cell, d.tok, CAST(count(*) AS BIGINT) AS cnt
        |  FROM af JOIN d ON d.doc_id = af.vec_id GROUP BY 1, 2),
        |top3 AS (
        |  SELECT cell, tok, cnt,
        |    row_number() OVER (PARTITION BY cell ORDER BY cnt DESC, tok) AS rk
        |  FROM ct QUALIFY rk <= 3),
        |sz AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM af GROUP BY cell)
        |SELECT cell, n_docs,
        |  string_agg(tok || ':' || CAST(cnt AS VARCHAR), ', ' ORDER BY rk)
        |    AS top_terms
        |FROM top3 JOIN sz USING (cell)
        |GROUP BY cell, n_docs ORDER BY cell""".stripMargin
    ) { (spark, dir) =>
      import graft.operators.IvfAnn
      val emb = graft.CacheScope.cache(Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding")))
      val cents = IvfAnn.centroids(emb, "vec_id", "embedding",
        clusters, iters)
      val af = graft.CacheScope.cache(
        IvfAnn.assign(emb, cents, "vec_id", "embedding"))
      val d = Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.Text.tokens(col("text"))).as("tok"))
      val ct = af.join(d, af("vec_id") === d("doc_id"))
        .groupBy(col("cell"), col("tok")).agg(count(lit(1)).as("cnt"))
      val top3 = graft.operators.Dedup.topKPerKey(ct, Seq("cell"),
        Seq(col("cnt").desc, col("tok").asc), 3)
      val sz = af.groupBy(col("cell")).agg(count(lit(1)).as("n_docs"))
      // (−cnt, tok) sorts ascending = (cnt desc, tok asc) — the oracle's
      // rk order — then renders "tok:cnt"
      top3.groupBy(col("cell"))
        .agg(array_join(transform(
          array_sort(collect_list(struct((-col("cnt")).as("negc"),
            col("tok").as("tok"), col("cnt").as("cnt")))),
          e => concat(e.getField("tok"), lit(":"),
            e.getField("cnt").cast("string"))), ", ").as("top_terms"))
        .join(sz, "cell")
        .select(col("cell"), col("n_docs"), col("top_terms"))
        .orderBy(col("cell"))
    }
  }

  /** MMR diversity re-rank ([[graft.operators.MmrRerank]]) over a brute
    * top-12 shortlist: greedy λ·rel − (1−λ)·max-sim-to-selected pick of
    * 4 per query — near-duplicate candidates cost their similarity to
    * the already-picked copy, so the selection jumps topics instead of
    * repeating them (retrieval's answer to corpus-side SemanticDedup).
    * λ = 0.75 on purpose: both λ and 1−λ = 0.25 are exact binary
    * doubles, so neither engine's constant parsing can skew an argmax.
    * The oracle unrolls all 4 greedy rounds (the BPE-train pattern) —
    * per round, the surviving candidates' max cosine against the
    * picked-so-far set (max is order-independent, so list build order
    * never matters), the λ-blend, a per-query argmax with id
    * tie-break — so every DECISION, not just the final scores, must
    * hash-match. The shortlist frame is queries·12 rows; each round is
    * a bounded join + k=1 TopKPerKey — corpus size never enters.
    */
  val mmrRerank: QuerySpec = {
    val lambda = "CAST(0.75 AS DOUBLE)"
    val oneMinus = "CAST(0.25 AS DOUBLE)"
    def roundCtes(r: Int): String = {
      val prev = (1 to r - 1).map(i => s"SELECT * FROM p$i")
        .mkString(" UNION ALL ")
      s"""a${r - 1} AS (SELECT qid, list(id) AS ids, list(vec) AS vecs
        |  FROM ($prev) GROUP BY qid),
        |m$r AS (
        |  SELECT c.qid, c.id, c.rel, c.vec,
        |    $lambda * c.rel - $oneMinus *
        |      list_max(list_transform(a.vecs, v -> ${Vectors.cosineSql("c.vec", "v")})) AS mmr
        |  FROM sl c JOIN a${r - 1} a ON c.qid = a.qid
        |  WHERE NOT list_contains(a.ids, c.id)),
        |p$r AS (SELECT qid, id, rel, mmr, vec FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid
        |      ORDER BY mmr DESC, id) AS rn FROM m$r) WHERE rn = 1)""".stripMargin
    }
    QuerySpec.sql(
      "q199_mmr_rerank",
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id < 10 AND ${Vectors.normSql("embedding")} > 0),
        |scored AS (
        |  SELECT qid, vec_id AS id, embedding AS vec,
        |    ${Vectors.cosineSql("qv", "embedding")} AS rel
        |  FROM q JOIN embeddings ON qid <> vec_id
        |    AND ${Vectors.normSql("embedding")} > 0),
        |sl AS (SELECT qid, id, vec, rel FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid
        |      ORDER BY rel DESC, id) AS rn FROM scored) WHERE rn <= 12),
        |p1 AS (SELECT qid, id, rel, $lambda * rel AS mmr, vec FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid
        |      ORDER BY $lambda * rel DESC, id) AS rn FROM sl) WHERE rn = 1),
        |${(2 to 4).map(roundCtes).mkString(",\n")}
        |SELECT qid, rank, id AS neighbor,
        |  round(rel + 1e-9, 4) AS relevance,
        |  round(mmr + 1e-9, 4) AS mmr
        |FROM (SELECT qid, id, rel, mmr, CAST(1 AS BIGINT) AS rank FROM p1
        |  ${(2 to 4).map(r =>
             s"UNION ALL SELECT qid, id, rel, mmr, CAST($r AS BIGINT) FROM p$r")
             .mkString("\n  ")})
        |ORDER BY qid, rank""".stripMargin
    ) { (spark, dir) =>
      val e = graft.CacheScope.cache(Tables.load(spark, dir, "embeddings")
        .filter(Vectors.norm(col("embedding")) > 0))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val sl = broadcast(q)
        .join(e, col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id").as("id"), col("embedding").as("vec"),
          Vectors.cosine(col("qv"), col("embedding")).as("rel"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("rel").desc, col("id"))))
        .filter(col("rn") <= 12).drop("rn")
      graft.operators.MmrRerank
        .rerank(sl, "qid", "id", "rel", "vec", k = 4, lambda = 0.75)
        .select(col("qid"), col("rank"), col("id").as("neighbor"),
          round(col("rel") + lit(1e-9), 4).as("relevance"),
          round(col("mmr") + lit(1e-9), 4).as("mmr"))
        .orderBy(col("qid"), col("rank"))
    }
  }

  val all: Seq[QuerySpec] = Seq(
    embeddingNearDup, knnTopK, lshAnn, embeddingProfile, lshNearDup, ivfAnn,
    quantizedKnn, pqAnn, pqRefined, ivfPqAnn, retrieveDocs, nearDupRecall,
    ivfRecall, ivfAnnPartitioned, ivfAppend, ivfStreamAppend,
    semanticDedup, ivfDrift, ivfRetrain, ivfVersioned, ivfDelete,
    tripletMining, kcenterSelect, ivfPqAppend, mediaAnnGate, ivfPqResidual,
    ivfPqResidualIndex, ivfPqResidualRefined, ivfPqRetrain, ivfPqVersioned,
    ivfPqStreamAppend, ivfPqRecall, sqSearch, sqIndex, bqSearch, bqRefined,
    bqIndex, bqRecall, annRouted, hybridRrf, hybridPersisted,
    crossModalRrf, mrlRefined, mrlRecall,
    tierRouted, topicProfile, mmrRerank)
}
