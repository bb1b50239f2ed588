package graft.operators

import graft.operators.IvfKnnOps.PqCodebooks
import java.nio.ByteBuffer
import org.apache.hadoop.fs.{FileSystem, Path}

/** The driver-side state of a persisted IVF-PQ index — coarse
  * centroids, subspace codebooks and the optional OPQ rotation — as
  * one binary file, `pq_state.bin`, beside the index's `codes/`.
  *
  * Layout (big-endian, every shape written once, no per-vector
  * lengths):
  * {{{
  *   int    magic "GPQS", format version
  *   int    m, subDim, dim, nLists, k (centers per subspace),
  *          hasRotation (0 or 1)
  *   int    nLists list ids, in id order
  *   double nLists × dim centroids
  *   double m × k × subDim codebook centers
  *   double dim × dim rotation rows (only when hasRotation = 1)
  * }}}
  * Doubles are raw IEEE bits, so a reload is bit-identical. Any file
  * that does not match its own header exactly is rejected with an
  * `IllegalArgumentException` that names the path.
  */
private[graft] object PqStateFile {
  val Name = "pq_state.bin"
  private val Magic = 0x47505153 // "GPQS"
  private val Version = 1
  private val HeaderBytes = 32

  private def fileBytes(m: Int, subDim: Int, nLists: Int, k: Int, hasRot: Boolean): Long = {
    val dim = m.toLong * subDim
    HeaderBytes + 4L * nLists +
      8L * (nLists * dim + m.toLong * k * subDim + (if (hasRot) dim * dim else 0L))
  }

  def write(
      fs: FileSystem,
      file: Path,
      centroids: Array[(Int, Array[Double])],
      books: PqCodebooks
  ): Unit = {
    val (m, subDim, dim) = (books.m, books.subDim, books.m * books.subDim)
    val cents = centroids.sortBy(_._1)
    val k = books.centers.head.length
    val rot = Option(books.rotation)
    require(books.centers.length == m && books.centers.forall(c => c.length == k && c.forall(_.length == subDim)),
      s"PQ codebooks must be $m subspaces x $k centers x $subDim doubles")
    require(cents.forall(_._2.length == dim), s"PQ centroids must have length m*subDim = $dim")
    require(rot.forall(r => r.length == dim && r.forall(_.length == dim)), s"OPQ rotation must be ${dim}x$dim")
    val buf = ByteBuffer.allocate(Math.toIntExact(fileBytes(m, subDim, cents.length, k, rot.isDefined)))
    buf.putInt(Magic).putInt(Version)
      .putInt(m).putInt(subDim).putInt(dim).putInt(cents.length).putInt(k).putInt(if (rot.isDefined) 1 else 0)
    cents.foreach(c => buf.putInt(c._1))
    cents.foreach(_._2.foreach(buf.putDouble))
    books.centers.foreach(_.foreach(_.foreach(buf.putDouble)))
    rot.foreach(_.foreach(_.foreach(buf.putDouble)))
    val out = fs.create(file, true)
    try out.write(buf.array()) finally out.close()
  }

  def read(fs: FileSystem, file: Path): (Array[(Int, Array[Double])], PqCodebooks) = {
    def bad(why: String): Nothing = throw new IllegalArgumentException(s"PQ index state $file: $why")
    val bytes =
      try { val in = fs.open(file); try in.readAllBytes() finally in.close() }
      catch { case _: java.io.FileNotFoundException =>
        bad("missing: the save did not complete, or the directory is not a PQ index in this layout") }
    if (bytes.length < HeaderBytes) bad(s"truncated: ${bytes.length} bytes, shorter than the header")
    val buf = ByteBuffer.wrap(bytes)
    if (buf.getInt != Magic) bad("bad magic number, not a PQ index state file")
    val version = buf.getInt
    if (version != Version) bad(s"format version $version, expected $Version")
    val (m, subDim, dim, nLists, k, hasRot) =
      (buf.getInt, buf.getInt, buf.getInt, buf.getInt, buf.getInt, buf.getInt)
    if (m <= 0 || subDim <= 0 || nLists <= 0 || k <= 0 || (hasRot != 0 && hasRot != 1))
      bad(s"corrupt header: m=$m subDim=$subDim nLists=$nLists k=$k hasRotation=$hasRot")
    if (dim.toLong != m.toLong * subDim) bad(s"centroid length $dim is not m*subDim = $m*$subDim")
    val expect = fileBytes(m, subDim, nLists, k, hasRot == 1)
    if (bytes.length != expect)
      bad(s"${if (bytes.length < expect) "truncated" else "trailing bytes"}: ${bytes.length} bytes, header implies $expect")
    def vec(n: Int): Array[Double] = Array.fill(n)(buf.getDouble)
    val ids = Array.fill(nLists)(buf.getInt)
    val centroids = ids.map(id => (id, vec(dim)))
    val centers = Array.fill(m, k)(vec(subDim))
    val rotation = if (hasRot == 1) Array.fill(dim)(vec(dim)) else null
    (centroids, PqCodebooks(m, subDim, centers, rotation))
  }
}
