package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}

/** A result's row count and an order-independent content hash: the sum
  * (mod 2^64) of an XXH64 of each row's UnsafeRow bytes. Equal values
  * give equal bytes, so the hash ignores row order and partitioning but
  * sees every bit of every value. */
final case class Fingerprint(rows: Long, hash: Long) {
  def render: String = s"$rows\t${java.lang.Long.toHexString(hash)}"
}

object Fingerprint {
  /** Executes `df`'s plan once, fingerprinting the rows it produces. */
  def of(df: DataFrame): Fingerprint = {
    val schema = df.schema
    val (n, h) = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var rows = 0L
      var sum = 0L
      it.foreach { r =>
        val u = proj(r)
        rows += 1
        sum += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.getSizeInBytes, 42L)
      }
      Iterator.single((rows, sum))
    }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    Fingerprint(n, h)
  }

  /** `name<TAB>rows<TAB>hexhash` lines; `#` starts a comment. */
  def load(path: String): Map[String, Fingerprint] =
    Files.readAllLines(Paths.get(path), UTF_8).toArray(Array.empty[String])
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(name, rows, hash) = l.split("\t")
        name -> Fingerprint(rows.toLong, java.lang.Long.parseUnsignedLong(hash, 16))
      }.toMap

  def save(path: String, header: Seq[String], pins: Seq[(String, Fingerprint)]): Unit = {
    val lines = header.map("# " + _) ++
      pins.sortBy(_._1).map { case (n, f) => s"$n\t${f.render}" }
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }
}
