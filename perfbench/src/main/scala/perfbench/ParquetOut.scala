package perfbench

import java.nio.file.{Files, Path}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser

/** Writes the generated inputs as single parquet files straight from the
  * driver, without a Spark job, so set-up stays cheap. */
object ParquetOut {
  val documents = """message documents {
    optional int64 doc_id; optional binary text (STRING); optional binary lang (STRING);
    optional binary source (STRING); optional int64 n_chars; }"""
  val embeddings = """message embeddings {
    optional int64 vec_id;
    optional group embedding (LIST) { repeated group list { optional float element; } }
    optional int32 label; }"""
  val events = """message events {
    optional int64 event_id; optional int64 ts (TIMESTAMP(MICROS,true)); optional int64 user_id;
    optional binary event_type (STRING); optional double value; optional binary props (STRING); }"""
  val coo = "message coo { optional int64 row; optional int64 col; optional double value; }"
  val marginal = "message marginal { optional int64 idx; optional double value; }"

  def write(path: Path, schema: String)(fill: (SimpleGroupFactory, Group => Unit) => Unit): Unit = {
    Files.createDirectories(path.getParent)
    val conf = new Configuration()
    val tpe = MessageTypeParser.parseMessageType(schema)
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path.toUri))
      .withConf(conf).withType(tpe).withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try fill(new SimpleGroupFactory(tpe), writer.write)
    finally writer.close()
  }

  def writeDocuments(path: Path, rows: Array[(Long, String, String, String)]): Unit =
    write(path, documents) { (f, out) =>
      rows.foreach { case (id, text, lang, src) =>
        out(f.newGroup().append("doc_id", id).append("text", text).append("lang", lang)
          .append("source", src).append("n_chars", text.length.toLong))
      }
    }

  def writeEmbeddings(path: Path, rows: Array[(Long, Array[Float], Int)]): Unit =
    write(path, embeddings) { (f, out) =>
      rows.foreach { case (id, v, label) =>
        val g = f.newGroup().append("vec_id", id)
        val list = g.addGroup("embedding")
        v.foreach(x => list.addGroup("list").append("element", x))
        out(g.append("label", label))
      }
    }

  def writeEvents(path: Path, rows: Array[(Long, Long, Long, String, Double, String)]): Unit =
    write(path, events) { (f, out) =>
      rows.foreach { case (id, ts, user, tpe, value, props) =>
        out(f.newGroup().append("event_id", id).append("ts", ts).append("user_id", user)
          .append("event_type", tpe).append("value", value).append("props", props))
      }
    }

  def writeCoo(path: Path, c: Gen.Coo): Unit =
    write(path, coo) { (f, out) =>
      c.rowIdx.indices.foreach { k =>
        out(f.newGroup().append("row", c.rowIdx(k)).append("col", c.colIdx(k)).append("value", c.value(k)))
      }
    }

  def writeMarginal(path: Path, v: Array[Double]): Unit =
    write(path, marginal) { (f, out) =>
      v.indices.foreach(k => out(f.newGroup().append("idx", k.toLong).append("value", v(k))))
    }
}
