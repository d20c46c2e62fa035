package graftbench

import graft.log.{ChangeLogGen, LogSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent fingerprint of a set of rows: row count plus the sum
  * (mod 2^64) of one 64-bit hash per row. The hash is Spark's `xxhash64`
  * over string columns, so the engine side is one aggregate job; the two
  * 32-bit half sums cannot overflow a bigint. */
final case class Digest(rows: Long, sum: Long) {
  def +(h: Long): Digest = Digest(rows + 1, sum + h)
  def -(h: Long): Digest = Digest(rows - 1, sum - h)
}

object Digest {
  val empty: Digest = Digest(0L, 0L)
  val RowCols: Seq[String] = Seq("repo", "path", "commit", "contentSha")
  val FeedCols: Seq[String] = "change_type" +: RowCols

  /** Driver-side replica of Spark's `xxhash64(cols...)`: each string
    * column's UTF-8 bytes fold into the running hash, seed 42. */
  def hash(values: String*): Long =
    values.foldLeft(42L) { (seed, s) =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
      org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), seed)
    }

  /** Digest of `cols` over a DataFrame (one Spark job, nothing collected). */
  def of(df: DataFrame, cols: Seq[String] = RowCols): Digest = {
    val r = df.select(xxhash64(cols.map(col): _*).as("h"))
      .agg(count(lit(1)),
        coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    Digest(r.getLong(0), r.getLong(1) + (r.getLong(2) << 32))
  }

  def sha256Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = "0123456789abcdef"
    val sb = new java.lang.StringBuilder(64)
    d.foreach { b => sb.append(hex.charAt((b >> 4) & 0xf)).append(hex.charAt(b & 0xf)) }
    sb.toString
  }
}

/** Expected table state, folded last-writer-wins from the pure generator
  * function `ChangeLogGen.eventAt` — never from the engine or its
  * expression-built slices. Ranges must be applied in ascending seq order.
  *
  * A fold pass finds each key's last seq in the range by its (repo, path)
  * index pair, computed the way `eventAt` picks them; `eventAt` itself then
  * builds every winning event, and a mismatch between the two key
  * derivations fails the `oracle_key_derivation` check. Both passes run
  * on `threads` threads. */
final class Oracle(spec: LogSpec, threads: Int, checks: Checks) {
  private val cdf = ChangeLogGen.zipfCdf(spec.nRepos, spec.zipfExponent)
  private val nKeys = spec.nRepos * spec.nPathsPerRepo
  // live image per key index: (repo, path, commit, contentSha); null = absent
  private val live = new Array[Array[String]](nKeys)
  private var dig = Digest.empty

  /** digest of the live rows (matches `Digest.of(table.read)`) */
  def digest: Digest = dig

  /** Fold seqs `[from, until)` into the state; returns the digest of the
    * change feed between the old and the new state (matches
    * `Digest.of(changesBetween, Digest.FeedCols)`). */
  def applyRange(from: Long, until: Long): Digest = {
    val last = lastSeqPerKey(from, until)
    val touched = last.indices.filter(k => last(k) >= 0).toArray
    val events = parallel(touched.length) { i =>
      ChangeLogGen.eventAt(spec, cdf, last(touched(i)))
    }
    var feed = Digest.empty
    var mismatched = 0
    touched.indices.foreach { i =>
      val k = touched(i)
      val ev = events(i)
      if (k != keyIndex(ev.repo, ev.path)) mismatched += 1
      val old = live(k)
      if (ev.op == "d") {
        if (old != null) {
          live(k) = null
          dig = dig - Digest.hash(old: _*)
          feed = feed + Digest.hash("delete" +: old.toSeq: _*)
        }
      } else {
        val img = Array(ev.repo, ev.path, ev.commit, Digest.sha256Hex(ev.content))
        live(k) = img
        if (old != null) dig = dig - Digest.hash(old: _*)
        dig = dig + Digest.hash(img: _*)
        feed = feed + Digest.hash((if (old == null) "insert" else "update") +:
          img.toSeq: _*)
      }
    }
    checks.check("oracle_key_derivation", mismatched == 0,
      s"$mismatched winners disagree with eventAt on their key")
    feed
  }

  /** the (repo, path) index pair `eventAt` derives from seq, as one int */
  private def keyOfSeq(seq: Long): Int = {
    val h0 = ChangeLogGen.mix64(spec.seed ^ seq)
    val u = (h0 >>> 11).toDouble / (1L << 53).toDouble
    val b = java.util.Arrays.binarySearch(cdf, u)
    val repo = if (b >= 0) b else math.min(cdf.length - 1, -b - 1)
    val h1 = ChangeLogGen.mix64(h0 ^ 0x51L)
    repo * spec.nPathsPerRepo + ((h1 >>> 17) % spec.nPathsPerRepo).toInt
  }

  /** inverse of the generator's key formatting, for the cross-check */
  private def keyIndex(repo: String, path: String): Int = {
    val r = repo.substring(repo.lastIndexOf('-') + 1).toInt
    val f = path.substring(path.lastIndexOf("File") + 4, path.lastIndexOf('.')).toInt
    r * spec.nPathsPerRepo + f
  }

  /** last seq per key index inside `[from, until)`; -1 = not touched */
  private def lastSeqPerKey(from: Long, until: Long): Array[Long] = {
    val parts = if (until - from < 100000) 1 else threads
    val step = (until - from + parts - 1) / parts
    val chunks = parallel(parts) { p =>
      val a = Array.fill(nKeys)(-1L)
      var s = from + p * step
      val hi = math.min(until, s + step)
      while (s < hi) { a(keyOfSeq(s)) = s; s += 1 }
      a
    }
    val out = chunks.head
    chunks.tail.foreach(c => c.indices.foreach(k => if (c(k) >= 0) out(k) = c(k)))
    out
  }

  private def parallel[T: scala.reflect.ClassTag](n: Int)(f: Int => T): Array[T] = {
    val out = new Array[T](n)
    val workers = math.max(1, math.min(threads, n))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(workers)
    try {
      (0 until workers).map { w =>
        pool.submit(new Runnable {
          def run(): Unit = {
            var i = w
            while (i < n) { out(i) = f(i); i += workers }
          }
        })
      }.foreach(_.get())
      out
    } finally pool.shutdown()
  }
}
