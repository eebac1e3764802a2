package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pure-JVM npy/npz codec — the reference's ingestion format decoded
  * natively (`read_example`, `trainer/flax_model.py:53-66`, loads each
  * training example as an npz of npy arrays). npy v1.0 is a fixed magic +
  * a padded Python-dict header + C-order raw values; npz is a zip of npy
  * entries — both parse with zero native dependencies, so a Spark cluster
  * ingests them as `binaryFile` blobs + a `mapPartitions` decode, no NumPy
  * anywhere.
  *
  * Byte-exactness contract: float32 values round-trip bit-for-bit through
  * the little-endian npy payload (IEEE bits written and read verbatim), so
  * a table → npz → table round-trip hash-matches the original — that is
  * `scan_npz_roundtrip`'s DuckDB oracle and NpzSpec's property.
  */
object Npz {

  private val Magic: Array[Byte] =
    Array(0x93.toByte, 'N'.toByte, 'U'.toByte, 'M'.toByte, 'P'.toByte, 'Y'.toByte)

  /** npy v1.0 bytes of a float32 vector: magic, version, uint16-LE header
    * length, space-padded header dict ending '\n' (data offset aligned to
    * 64, per the format spec), then C-order little-endian IEEE bits.
    */
  def npyBytes(a: Array[Float]): Array[Byte] = {
    val headerCore =
      s"{'descr': '<f4', 'fortran_order': False, 'shape': (${a.length},), }"
    val unpadded = Magic.length + 2 + 2 + headerCore.length + 1
    val pad = (64 - unpadded % 64) % 64
    val header = headerCore + (" " * pad) + "\n"
    val buf = ByteBuffer
      .allocate(Magic.length + 2 + 2 + header.length + a.length * 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put(Magic).put(1.toByte).put(0.toByte)
    buf.putShort(header.length.toShort)
    buf.put(header.getBytes("ASCII"))
    a.foreach(buf.putFloat)
    buf.array()
  }

  /** Parse one npy payload back to float32 values. Validates magic,
    * version, dtype `<f4`, C order; the declared shape's element product
    * must match the remaining bytes.
    */
  def parseNpy(bytes: Array[Byte]): Array[Float] = {
    require(bytes.length >= 10 &&
      Magic.indices.forall(i => bytes(i) == Magic(i)), "bad npy magic")
    require(bytes(6) == 1.toByte, s"unsupported npy version ${bytes(6)}")
    val hlen =
      ((bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8)) // uint16 LE
    val header = new String(bytes, 10, hlen, "ASCII")
    require(header.contains("'descr': '<f4'"),
      s"unsupported dtype in npy header: $header")
    require(header.contains("'fortran_order': False"),
      s"only C order supported: $header")
    val shape = "\\((\\d+(?:\\s*,\\s*\\d+)*)\\s*,?\\)".r
      .findFirstMatchIn(header)
      .map(_.group(1).split(",").map(_.trim.toLong).product)
      .getOrElse(throw new IllegalArgumentException(s"no shape in: $header"))
    val dataOff = 10 + hlen
    require(bytes.length - dataOff == shape * 4,
      s"npy payload ${bytes.length - dataOff} bytes != shape $shape * 4")
    val bb = ByteBuffer.wrap(bytes, dataOff, shape.toInt * 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    Array.fill(shape.toInt)(bb.getFloat)
  }

  /** Write an npz (zip of npy entries) to `out`. Entry mtimes are pinned
    * to 0 so staged files are byte-stable across runs.
    */
  def writeNpz(out: OutputStream,
      entries: Iterator[(String, Array[Float])]): Unit = {
    val z = new ZipOutputStream(out)
    try entries.foreach { case (name, a) =>
      val e = new ZipEntry(s"$name.npy")
      e.setTime(0L)
      z.putNextEntry(e)
      z.write(npyBytes(a))
      z.closeEntry()
    } finally z.close()
  }

  /** Decode every npy entry of an npz blob: (entry name sans .npy, values). */
  def readNpz(bytes: Array[Byte]): Iterator[(String, Array[Float])] =
    readNpzStream(new ByteArrayInputStream(bytes))

  private def readNpzStream(in: InputStream): Iterator[(String, Array[Float])] = {
    val z = new ZipInputStream(in)
    val out = mutable.ArrayBuffer.empty[(String, Array[Float])]
    var e = z.getNextEntry
    while (e != null) {
      val buf = new ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = z.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = z.read(chunk) }
      out += ((e.getName.stripSuffix(".npy"), parseNpy(buf.toByteArray)))
      e = z.getNextEntry
    }
    z.close()
    out.iterator
  }

  /** Stage the embeddings table as an npz landing dir (one npz per 50-id
    * group, one npy entry per vector, entries name-sorted) — executor-side
    * writes through the Hadoop FS API (local tmp here; the same code
    * addresses HDFS/object stores), grouped so whole groups land in one
    * task after the `repartition(grp)`. Staged once per (session, dir):
    * Bench's min-of-2 and repeated dev calls restage nothing.
    */
  def stageEmbeddings(s: SparkSession, dir: String, emb: DataFrame): String =
    graft.queries.Staged.memo(s, dir, "npz/embeddings") {
      val tmp = graft.queries.Scratch.path("graft_npz")
      val root = new Path(tmp)
      root.getFileSystem(s.sparkContext.hadoopConfiguration).mkdirs(root)
      emb
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"),
          (col("vec_id").cast("long") / 50).cast("long").as("grp"))
        .repartition(col("grp"))
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          val byGrp = mutable.Map
            .empty[Long, mutable.ArrayBuffer[(Long, Array[Float])]]
          rows.foreach { r =>
            byGrp.getOrElseUpdate(r.getLong(2), mutable.ArrayBuffer.empty) +=
              ((r.getLong(0), r.getSeq[Float](1).toArray))
          }
          val pfs = new Path(tmp)
            .getFileSystem(new org.apache.hadoop.conf.Configuration())
          pfs.setWriteChecksum(false)
          byGrp.foreach { case (g, vs) =>
            val out = pfs.create(new Path(tmp, s"part_$g.npz"), true)
            try writeNpz(out,
              vs.sortBy(_._1).iterator.map { case (id, a) => (s"vec_$id", a) })
            finally out.close()
          }
        }
      tmp
    }
}
