package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{call_function, col, lit}
import org.apache.spark.util.sketch.BloomFilter

/** Versioned on-storage Bloom sketches for
  * [[Sinks.appendInsertIgnoreSketched]] — the standing "what keys has this
  * target already absorbed" summary a streaming insert-ignore maintains so
  * it stops re-reading its own history every micro-batch.
  *
  * Layout: `<targetPath>__bloom/bloom-v<version>-c<capacity>-b<bits>-n<keys>.bf`,
  * each file a serialized `org.apache.spark.util.sketch.BloomFilter`
  * (`writeTo`/`readFrom` — the same bytes `graft_bloom_agg` emits and
  * `graft_bloom_might_file` / [[graft.functions.BloomFileCache]] load).
  * Files are IMMUTABLE once renamed into place: every update writes the
  * next version to a temp name and atomically moves it, so (a) the
  * executor LRU cache can never serve stale bits for a path, and (b) a
  * crash mid-write leaves only an orphan temp file, never a torn sketch.
  * A replayed micro-batch re-derives a byte-identical merge (Bloom OR is
  * idempotent), so replays can only add a redundant version, never a
  * conflicting one. Metadata (capacity/bits/key-count) rides in the file
  * name — the rename that publishes the bits publishes the metadata with
  * them.
  *
  * In the sandbox the store is a local temp path; on a cluster the same
  * calls run against shared storage (the [[graft.functions.BloomFileCache]]
  * contract). Old versions are GC fodder — each is replaced by the next,
  * and nothing ever reads two.
  */
private[graft] object BloomStore {
  final case class SketchRef(file: Path, version: Long, capacity: Long,
      nBits: Long, nKeys: Long)

  private val Name = """bloom-v(\d+)-c(\d+)-b(\d+)-n(\d+)\.bf""".r

  def dir(targetPath: String): Path = Paths.get(targetPath + "__bloom")

  /** Standard Bloom sizing: m = −n·ln p / (ln 2)². */
  def optimalBits(nKeys: Long, fpp: Double): Long = math.max(64L,
    math.ceil(-nKeys * math.log(fpp) / (math.log(2) * math.log(2))).toLong)

  /** Highest published sketch version for a target, if any. */
  def latest(targetPath: String): Option[SketchRef] = {
    val d = dir(targetPath)
    if (!Files.isDirectory(d)) return None
    // Files.list holds an open directory fd until the stream is closed, and
    // latest() runs ≥2× per micro-batch on the sketched hot path — close it
    // eagerly (after materializing) or a long-running stream leaks one fd
    // per call until 'Too many open files'.
    val listing = Files.list(d)
    val refs =
      try listing.iterator().asScala.flatMap { p =>
        p.getFileName.toString match {
          case Name(v, c, b, n) =>
            Some(SketchRef(p, v.toLong, c.toLong, b.toLong, n.toLong))
          case _ => None
        }
      }.toSeq
      finally listing.close()
    refs.sortBy(_.version).lastOption
  }

  /** Publish `bf` as the next sketch version, carrying the sizing it was
    * created with: temp file + atomic rename, so a crash mid-write leaves an
    * orphan temp file, never a torn sketch. The write is buffered
    * (`writeTo` emits word-at-a-time — unbuffered, that is a syscall per 8
    * bytes). A driver-side caller loads via [[load]] and probes/inserts the
    * batch's xxhash64 longs with `mightContainLong`/`putLong` first — one
    * hash scheme, so driver inserts and executor probes agree bit-for-bit.
    */
  def publish(targetPath: String, capacity: Long, nBits: Long,
      bf: BloomFilter, nKeys: Long): Unit = {
    val d = dir(targetPath)
    Files.createDirectories(d)
    val version = latest(targetPath).map(_.version + 1).getOrElse(0L)
    val name = s"bloom-v$version-c$capacity-b$nBits-n$nKeys.bf"
    val tmp = Files.createTempFile(d, s".tmp-$name", "")
    val out = new java.io.BufferedOutputStream(Files.newOutputStream(tmp), 1 << 20)
    try bf.writeTo(out) finally out.close()
    Files.move(tmp, d.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    resident.synchronized { resident.put(d.resolve(name).toString, bf); () }
  }

  /** Publish `prior` (or nothing) ∪ the keys of a single-column `h: BIGINT`
    * frame of xxhash64 key hashes (hashed exactly as `graft_bloom_might_file`
    * probes will hash), built by ONE distributed `graft_bloom_agg` at
    * (`capacity`, `nBits`) — the sizing `prior` must share. The bootstrap
    * and rebuild paths, where the key frame can be history-sized: the
    * distributed aggregate is the right tool there and the cost is one-time.
    */
  def writeMerged(targetPath: String, prior: Option[SketchRef],
      keyHashes: DataFrame, capacity: Long, nBits: Long, nKeys: Long): Unit = {
    val bytes = keyHashes
      .agg(call_function("graft_bloom_agg", col("h"), lit(capacity), lit(nBits)))
      .head().getAs[Array[Byte]](0)
    // null means no input rows
    val bf = Option(bytes).fold(BloomFilter.create(capacity, nBits))(b => BloomFilter.readFrom(b))
    prior.foreach(p => bf.mergeInPlace(load(p)))
    publish(targetPath, capacity, nBits, bf, nKeys)
  }

  /** Driver-resident filters keyed by published file path, so the
    * steady-state loop (load vN → insert batch → publish vN+1) mutates ONE
    * resident object instead of re-reading and re-allocating a
    * capacity-sized filter every micro-batch. Safety: an entry can only
    * ever be a SUPERSET of its file (a caller that mutated but failed
    * before publishing leaves extra keys — which only widen might-contain,
    * never shrink it), so serving it preserves the no-false-negative
    * contract; on restart the cache is empty and the file is truth.
    */
  private val resident = new java.util.LinkedHashMap[String, BloomFilter](8, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, BloomFilter]): Boolean =
      size() > 4
  }

  /** Driver-side load of a published sketch (MBs — the same bytes the
    * executor-side `graft_bloom_might_file` cache reads); buffered, and
    * served from [[resident]] when this JVM published it. */
  def load(ref: SketchRef): BloomFilter = resident.synchronized {
    val hit = resident.get(ref.file.toString)
    if (hit != null) hit
    else {
      val in = new java.io.BufferedInputStream(Files.newInputStream(ref.file), 1 << 20)
      val bf = try BloomFilter.readFrom(in) finally in.close()
      resident.put(ref.file.toString, bf)
      bf
    }
  }
}
