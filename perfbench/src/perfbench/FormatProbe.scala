package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

import graft.format.{BatchRead, ByteArrayInput, Codec, LocalFileInput, StrawFileReader,
  StrawFileWriter, WriteOptions}

/** The `format` layer measured by direct calls, with no Spark job: codec
  * encode/decode on one-column in-memory files and one `lineitem` file
  * written and read through the file API. Every round trip is checked value
  * by value on its first repetition; a mismatch is reported as a failure. */
final class FormatProbe(seed: Long, reps: Int, tracer: Tracer) {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0

  private val Rows = 1 << 20
  private val ChooserOff = WriteOptions(base = Codec.Lz4, adaptive = false, maxPageSize = 8192)
  private val ChooserOn = WriteOptions()

  private def median(xs: Seq[Double]): Double = Stats.median(xs)

  private def timed[T](name: String)(body: => T): (T, Double) = {
    tracer.open(name, "format")
    val t0 = System.nanoTime()
    val r = body
    val dt = (System.nanoTime() - t0) / 1e9
    tracer.close()
    (r, dt)
  }

  /** One codec shape: a single nullable column of `Rows` values. */
  private final case class Shape(name: String, dt: DataType, opts: WriteOptions,
      nullFrac: Double, fill: (scala.util.Random, Int) => Any)

  private def shapes: Seq[Shape] = Seq(
    Shape("i64", LongType, ChooserOff, 0.1, (r, _) => r.nextLong()),
    Shape("bool", BooleanType, ChooserOff, 0.1, (r, _) => r.nextBoolean()),
    Shape("utf8", StringType, ChooserOff, 0.1,
      (r, _) => UTF8String.fromString(Array.fill(4)(('a' + r.nextInt(26)).toChar).mkString)),
    Shape("i64_sorted", LongType, ChooserOn, 0.0, (_, i) => i.toLong),
    Shape("i64_dict", LongType, ChooserOn, 0.0, {
      val values = Array.tabulate(8)(k => (seed * 7919L + k * 104729L) % 1000003L)
      (r, _) => values(r.nextInt(values.length))
    }),
    Shape("i64_freq", LongType, ChooserOn, 0.0,
      (r, _) => if (r.nextInt(2048) < 3) 10000L else 20L),
    Shape("f64_decimal", DoubleType, ChooserOn, 0.0,
      (r, _) => math.rint(r.nextDouble() * 10000000.0) / 100.0),
    Shape("f64_random", DoubleType, ChooserOn, 0.0, (r, _) => r.nextDouble()))

  private def vector(sh: Shape): (ColumnarBatch, Array[Any], Long) = {
    val rnd = new scala.util.Random(seed * 31L + sh.name.hashCode)
    val vec = new OnHeapColumnVector(Rows, sh.dt)
    val values = new Array[Any](Rows)
    var raw = 0L
    var i = 0
    while (i < Rows) {
      if (sh.nullFrac > 0 && rnd.nextDouble() < sh.nullFrac) vec.putNull(i)
      else {
        val v = sh.fill(rnd, i)
        values(i) = v
        v match {
          case l: Long => vec.putLong(i, l); raw += 8
          case b: Boolean => vec.putBoolean(i, b); raw += 1
          case d: Double => vec.putDouble(i, d); raw += 8
          case s: UTF8String => vec.putByteArray(i, s.getBytes); raw += s.numBytes + 4
        }
      }
      i += 1
    }
    val batch = new ColumnarBatch(Array[ColumnVector](vec))
    batch.setNumRows(Rows)
    (batch, values, raw)
  }

  private def encode(schema: StructType, batch: ColumnarBatch, opts: WriteOptions): Array[Byte] = {
    val w = new StrawFileWriter(schema, opts)
    var start = 0
    while (start < batch.numRows()) start += w.writeColumnar(batch, start, batch.numRows() - start)
    w.finish()
  }

  def codecs(): Unit = shapes.foreach { sh =>
    attempted += 1
    val (batch, values, raw) = vector(sh)
    val schema = StructType(Seq(StructField("v", sh.dt, nullable = true)))
    val enc = mutable.ArrayBuffer.empty[Double]
    val dec = mutable.ArrayBuffer.empty[Double]
    var size = 0L
    try {
      (0 until reps).foreach { rep =>
        val (bytes, te) = timed(s"codec.${sh.name}.encode")(encode(schema, batch, sh.opts))
        size = bytes.length
        val (cols, td) = timed(s"codec.${sh.name}.decode") {
          val in = new ByteArrayInput(bytes)
          BatchRead.readColumns(in, StrawFileReader.readFooter(in))
        }
        enc += te
        dec += td
        if (rep == 0) {
          val page = cols.columns(0)
          var i = 0
          var bad = cols.numRows != Rows
          while (!bad && i < Rows) {
            val got = page.valueOrNull(i)
            bad = values(i) != got
            i += 1
          }
          if (bad) failures += s"codec.${sh.name}: round trip differs at row ${i - 1}"
        }
      }
    } catch {
      case e: Exception => failures += s"codec.${sh.name}: ${e.getClass.getSimpleName}: ${e.getMessage}"
    } finally batch.close()
    val mb = raw / 1e6
    metrics(s"format.codec.${sh.name}.encode_mb_s") = mb / median(enc.toSeq)
    metrics(s"format.codec.${sh.name}.decode_mb_s") = mb / median(dec.toSeq)
    metrics(s"format.codec.${sh.name}.ratio") = if (size > 0) raw.toDouble / size else 0.0
  }

  /** Plain in-memory size of a decoded column: fixed width per value,
    * string/binary payload plus a 4-byte offset. */
  private def rawBytes(dt: DataType, page: graft.format.DecodedPage, n: Int): Long = dt match {
    case StringType | BinaryType =>
      var s = 0L
      var i = 0
      while (i < n) {
        page.valueOrNull(i) match {
          case u: UTF8String => s += u.numBytes
          case b: Array[Byte] => s += b.length
          case _ =>
        }
        s += 4
        i += 1
      }
      s
    case other => other.defaultSize.toLong * n
  }

  /** `lineitem` written and read through the file API. `source` is one
    * strawboat data file holding the table; `parquetBytes` its parquet
    * size. */
  def file(source: String, parquetBytes: Long, workDir: String): Unit = {
    attempted += 1
    try {
      val src = BatchRead.readFile(source)
      val schema = src.schema
      val n = src.numRows
      val raw = schema.fields.indices.map(c => rawBytes(schema(c).dataType, src.columns(c), n))
      val proj = Seq("l_orderkey", "l_extendedprice").map(schema.fieldIndex)
      val toUnsafe = UnsafeProjection.create(schema)
      val rows: Array[InternalRow] = src.toRows.map(r => toUnsafe(r).copy(): InternalRow).toArray
      val out = new File(workDir, "lineitem.strb")
      out.getParentFile.mkdirs()
      val writes = mutable.ArrayBuffer.empty[Double]
      val reads = mutable.ArrayBuffer.empty[Double]
      val projReads = mutable.ArrayBuffer.empty[Double]
      (0 until reps).foreach { rep =>
        writes += timed("file.write") {
          val w = new StrawFileWriter(schema, WriteOptions())
          rows.foreach(w.write)
          val os = new BufferedOutputStream(new FileOutputStream(out), 1 << 20)
          try w.writeTo(os) finally os.close()
        }._2
        val (back, tr) = timed("file.read") {
          val in = new LocalFileInput(out.getPath)
          try BatchRead.readColumns(in, StrawFileReader.readFooter(in)) finally in.close()
        }
        reads += tr
        projReads += timed("file.read_proj") {
          val in = new LocalFileInput(out.getPath)
          try BatchRead.readColumns(in, StrawFileReader.readFooter(in), proj.toArray)
          finally in.close()
        }._2
        if (rep == 0) {
          val same = back.numRows == n && schema.fields.indices.forall { c =>
            val a = src.columns(c)
            val b = back.columns(c)
            (0 until n).forall(i => a.valueOrNull(i) == b.valueOrNull(i))
          }
          if (!same) failures += "file.lineitem: read-back differs from the written rows"
        }
      }
      val footers = (0 until 50).map { _ =>
        val t0 = System.nanoTime()
        val in = new LocalFileInput(out.getPath)
        try StrawFileReader.readFooter(in) finally in.close()
        (System.nanoTime() - t0) / 1e3
      }
      metrics("format.file.write_mb_s") = raw.sum / 1e6 / median(writes.toSeq)
      metrics("format.file.read_mb_s") = raw.sum / 1e6 / median(reads.toSeq)
      metrics("format.file.read_proj_mb_s") = proj.map(raw(_)).sum / 1e6 / median(projReads.toSeq)
      metrics("format.file.footer_us") = median(footers)
      metrics("format.file.bytes_ratio") = out.length.toDouble / parquetBytes
      out.delete()
    } catch {
      case e: Exception => failures += s"file.lineitem: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
  }
}
