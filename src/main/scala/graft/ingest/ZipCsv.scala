package graft.ingest

import java.io.{ByteArrayInputStream, InputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.ZipInputStream

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** ZIP-of-CSV (incl. nested ZIP) extraction (utils.go:50-86,
  * 121-182) as a Spark source: `binaryFile` scan (one row per
  * archive → parallelism = #archives, the reference's
  * worker-per-archive model) + a per-partition streaming unzip and
  * RFC-4180 CSV parse. Columns are selected by the member's own
  * header row, so members with different column orders or extra
  * columns coexist (the reference's header-map behavior,
  * utils.go:167-171). Missing columns → null.
  *
  * Scale: archives stream through ZipInputStream — only one member
  * is materialized at a time; a day's dump never sits fully decoded
  * in memory. At 100 TB the scan distributes archives across
  * executors; downstream parse/dedup repartitions as usual.
  */
object ZipCsv {

  /** Read every CSV member of every `*.zip` under `path` into
    * string columns `columns` (+ `_src` = archive member path). */
  def read(spark: SparkSession, path: String, columns: Seq[String]): DataFrame = {
    val schema = StructType(
      StructField("_src", StringType, nullable = false) +:
        columns.map(StructField(_, StringType, nullable = true)))
    val bin = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.zip").load(path)
      .select(col("path"), col("content"))
    val enc = Encoders.row(schema)
    bin.mapPartitions { it: Iterator[Row] =>
      it.flatMap { r =>
        extract(r.getString(0), new ByteArrayInputStream(r.getAs[Array[Byte]](1)), columns)
      }
    }(enc)
  }

  /** Recursively walk a zip stream: nested `.zip` members recurse,
    * `.csv` members parse; anything else is skipped. */
  private def extract(src: String, in: InputStream, columns: Seq[String]): Iterator[Row] = {
    val zin = new ZipInputStream(in)
    Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
      .filterNot(_.isDirectory)
      .flatMap { entry =>
        val name = entry.getName
        if (name.toLowerCase.endsWith(".zip")) {
          // nested archives are usually small relative to the outer
          // dump; buffer then recurse (ZipInputStream can't seek)
          extract(s"$src!$name", new ByteArrayInputStream(zin.readAllBytes()), columns).toVector
        } else if (name.toLowerCase.endsWith(".csv")) {
          parseCsv(s"$src!$name", zin, columns)
        } else Nil
      }
  }

  /** Header-mapped CSV → Rows. The stream must be consumed eagerly
    * (the ZipInputStream advances), hence the Vector. */
  private def parseCsv(src: String, in: InputStream, columns: Seq[String]): Vector[Row] = {
    val recs = Csv.records(new String(in.readAllBytes(), StandardCharsets.UTF_8))
    if (recs.isEmpty) return Vector.empty
    val header = recs.head.zipWithIndex.toMap
    val idx = columns.map(header.get)
    recs.tail.map { rec =>
      Row.fromSeq(src +: idx.map {
        case Some(i) if i < rec.length => rec(i)
        case _ => null
      })
    }.toVector
  }
}

/** Minimal RFC-4180 parser: quoted fields, escaped quotes (""),
  * embedded commas/newlines, CRLF or LF records. */
object Csv {
  def records(text: String): Vector[Vector[String]] = {
    val out = Vector.newBuilder[Vector[String]]
    var row = Vector.newBuilder[String]
    val field = new StringBuilder
    var inQuotes = false
    var sawAny = false
    var i = 0
    val n = text.length
    def endField(): Unit = { row += field.toString; field.clear() }
    def endRow(): Unit = { endField(); out += row.result(); row = Vector.newBuilder[String]; sawAny = false }
    while (i < n) {
      val c = text.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < n && text.charAt(i + 1) == '"') { field.append('"'); i += 1 }
          else inQuotes = false
        } else field.append(c)
      } else c match {
        case '"' => inQuotes = true; sawAny = true
        case ',' => endField(); sawAny = true
        case '\r' => // swallow; LF handles the row end
        case '\n' => if (sawAny) endRow() // blank lines are skipped
        case ch => field.append(ch); sawAny = true
      }
      i += 1
    }
    if (sawAny) endRow()
    out.result()
  }

  /** Quote a field iff needed (for fixture/export writers). */
  def quote(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** UTF-8 CSV text: the `header` line, then one line per row with the
    * row's fields named by `header`, in header order (quoted as needed,
    * null as "null") — the fixture writers' one renderer. */
  def render(header: Seq[String], rows: Iterable[Row]): Array[Byte] = {
    val sb = new StringBuilder(header.mkString(","))
    sb.append('\n')
    rows.foreach { r =>
      sb.append(header.map(h => quote(String.valueOf(r.getAs[Any](h)))).mkString(","))
      sb.append('\n')
    }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }
}
