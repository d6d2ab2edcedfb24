package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.{QueryDef, Tables}
import graft.dedup.Dedup.MurmurSql

/** Scalar quantization for embedding storage/search (SURVEY §2 D27) —
  * the int8 compression step of IVF-PQ-family indexes: per-vector
  * min/max affine quantization of float32 components into 8-bit codes
  * (4× memory, the difference between a 100 TB corpus fitting executor
  * memory or not), search on DEQUANTIZED vectors, recall checked
  * against exact brute force.
  *
  * Determinism discipline: codes come from `round` over doubles both
  * engines compute bit-identically (same expression order, IEEE
  * doubles, HALF_UP on positives); dequantized components are cast
  * back to float32 so the cosine runs through the same
  * `VectorOps.cosine` / DuckDB double formulation pair the embedding
  * entries already hash-match with.
  */
object Quantize {

  /** embedding: array<float> → (codes array<int> in [0,255], mn, mx). */
  def withCodes(emb: DataFrame): DataFrame = {
    val vec = col("embedding")
    emb
      .withColumn("mn", array_min(vec).cast("double"))
      .withColumn("mx", array_max(vec).cast("double"))
      .withColumn("codes",
        when(col("mx") === col("mn"), transform(vec, _ => lit(0)))
          .otherwise(transform(vec, x =>
            round((x.cast("double") - col("mn")) /
              (col("mx") - col("mn")) * lit(255.0), 0).cast("int"))))
  }

  /** codes → float32 reconstruction. */
  def dequantized: Column =
    transform(col("codes"), c =>
      (col("mn") + c.cast("double") * (col("mx") - col("mn")) / lit(255.0))
        .cast("float"))

  val defs: Map[String, QueryDef] = Map(
    // D27 — brute-force top-k over int8-quantized vectors: the memory-
    // bound scale path (quantize once at ingest; search touches 1/4 the
    // bytes). Plan = broadcast queries × corpus scan, window top-k —
    // identical shape to knn_brute, compression is the only delta.
    "knn_quantized" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val deq = withCodes(Tables.embeddings(s, d))
          .withColumn("dq", dequantized)
          .select(col("vec_id"), col("dq"))
        val queries = deq.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("dq").as("q_dq"))
        val w = Window.partitionBy("query_id")
          .orderBy(col("qcosine").desc, col("neighbor_id"))
        deq.select(col("vec_id").as("neighbor_id"), col("dq").as("c_dq"))
          .crossJoin(broadcast(queries))
          .filter(col("query_id") =!= col("neighbor_id"))
          .withColumn("qcosine",
            round(VectorOps.cosine(col("q_dq"), col("c_dq")), 4))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select("query_id", "rank", "neighbor_id", "qcosine")
          .orderBy("query_id", "rank")
      },
      s"""WITH mm AS (
            SELECT vec_id, embedding,
                   CAST(list_min(embedding) AS DOUBLE) AS mn,
                   CAST(list_max(embedding) AS DOUBLE) AS mx
            FROM embeddings),
          qz AS (
            SELECT vec_id,
                   CASE WHEN mx = mn
                        THEN list_transform(embedding, x -> CAST(mn AS REAL))
                        ELSE list_transform(embedding, x ->
                          CAST(mn + round((CAST(x AS DOUBLE) - mn) / (mx - mn) * 255.0)
                               * (mx - mn) / 255.0 AS REAL))
                   END AS dq
            FROM mm),
          scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round(${MurmurSql.duckCosine("q.dq", "c.dq")}, 4)
                     AS qcosine
            FROM qz q JOIN qz c ON q.vec_id < 10 AND c.vec_id != q.vec_id),
          ranked AS (
            SELECT query_id, neighbor_id, qcosine,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY qcosine DESC, neighbor_id) AS INT) AS rank
            FROM scored)
          SELECT query_id, rank, neighbor_id, qcosine
          FROM ranked WHERE rank <= 3 ORDER BY query_id, rank"""))
}
