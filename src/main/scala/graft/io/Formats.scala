package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Interchange-format sinks + sources beyond parquet/CSV: JSONL (the
  * dominant LLM-corpus interchange format — one JSON document per line,
  * splittable, append-friendly) and ORC (the other columnar format a lake
  * actually serves). Each is certified by a ROUND TRIP: write the documents
  * table through the format, read it back with the EXPLICIT source schema
  * (never schema inference — at 100 TB an inference pass is a full extra
  * scan, and a schema drift should fail loudly, not re-type the column),
  * and hash-compare the result against the parquet-loaded original via the
  * DuckDB oracle (the q57 labeled-CSV pattern). Each call writes a fresh
  * scratch dir, shutdown-hook-deleted ([[TempDirs]]).
  *
  * Scale notes: both writers shard naturally (one file per task — the
  * parallel-write path), both readers split (JSONL by line, ORC by stripe),
  * and the explicit schema keeps column pruning available to the ORC scan
  * (JSON is row-major; a projection still parses every line, which is WHY
  * a pipeline converts JSONL → columnar at ingest — this pair of operators
  * is exactly that conversion, exercised in both directions). */
object Formats {

  private def roundtrip(spark: SparkSession, dir: String,
      scratchTag: String,
      write: (DataFrame, String) => Unit,
      read: (SparkSession, org.apache.spark.sql.types.StructType, String) => DataFrame)
      : DataFrame = {
    val src = Tables(spark, dir, "documents")
    val path = TempDirs.scratch(scratchTag).resolve("documents").toString
    write(src, path)
    read(spark, src.schema, path)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        md5(col("text")).as("text_md5"))
  }

  /** JSONL round-trip (q195): documents → line-delimited JSON → back. */
  def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame =
    roundtrip(spark, dir, "graft-jsonl",
      (df, p) => df.write.mode("overwrite").json(p),
      (s, schema, p) => s.read.schema(schema).json(p))

  /** ORC round-trip (q196): documents → ORC → back. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame =
    roundtrip(spark, dir, "graft-orc",
      (df, p) => df.write.mode("overwrite").orc(p),
      (s, schema, p) => s.read.schema(schema).orc(p))

  /** Raw line-oriented text round-trip (q204) — the rawest ingestion
    * surface: one record per line (`doc_id \t text`), written with the
    * text sink and re-parsed from `spark.read.text`'s single `value`
    * column back into typed fields (the parse-the-crawl-line step every
    * raw pipeline starts with; limit-2 split so tabs inside the payload
    * would stay in the text). Line sources split by newline — the
    * splittable-at-scale property — which also means the payload must be
    * newline-free; real pipelines escape or length-prefix, this fixture's
    * text is single-line by construction. */
  def textRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables(spark, dir, "documents")
    val path = TempDirs.scratch("graft-text").resolve("documents").toString
    src.select(concat_ws("\t", col("doc_id"), col("text")).as("value"))
      .write.mode("overwrite").text(path)
    spark.read.text(path)
      .select(split(col("value"), "\t", 2).as("parts"))
      .select(element_at(col("parts"), 1).cast("long").as("doc_id"),
        md5(element_at(col("parts"), 2)).as("text_md5"))
  }
}
