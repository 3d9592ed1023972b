package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An order-insensitive fingerprint of a face's output: the row count and
  * the exact sum of a 64-bit hash of every row. It rides the face's own
  * action as a `Dataset.observe` metric, so checking the output costs one
  * extra hash per row and no second execution.
  *
  * Values are hashed in a canonical form: maps become their entries sorted
  * by key (map iteration order is not part of the value), and instants
  * become wall-clock timestamps, as `graft.Verify` writes them, so the same
  * rows read back from a Verify dump hash the same.
  */
object Fingerprint {
  def canonical(c: Column, t: DataType): Column = t match {
    case MapType(k, v, _) =>
      array_sort(transform(map_entries(c),
        e => struct(canonical(e.getField("key"), k).as("key"),
          canonical(e.getField("value"), v).as("value"))))
    case ArrayType(e, _) if needsCanon(e) => transform(c, x => canonical(x, e))
    case StructType(fs) if fs.exists(f => needsCanon(f.dataType)) =>
      struct(fs.toSeq.map(f => canonical(c.getField(f.name), f.dataType).as(f.name)): _*)
    case TimestampType => c.cast(TimestampNTZType)
    case _ => c
  }

  private def needsCanon(t: DataType): Boolean = t match {
    case _: MapType | TimestampType => true
    case ArrayType(e, _) => needsCanon(e)
    case StructType(fs) => fs.exists(f => needsCanon(f.dataType))
    case _ => false
  }

  /** The two aggregate columns to observe: `rows` and `hash_sum`. The hash
    * sum is a decimal so it cannot overflow. A zero-column frame hashes
    * its row count only. */
  def metrics(df: DataFrame): Seq[Column] = {
    val cols = df.schema.fields.toSeq.map(f => canonical(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    Seq(count(lit(1)).as("rows"), sum(h.cast("decimal(20,0)")).as("hash_sum"))
  }

  def render(rows: Long, hashSum: Any): String =
    s"$rows:${Option(hashSum).map(_.toString).getOrElse("0")}"
}
