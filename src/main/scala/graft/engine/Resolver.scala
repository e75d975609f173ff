package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import scala.jdk.CollectionConverters._

/** Session-scoped read resolution: the one place that decides whether a
  * parquet dir's memoized resolution is still current (README, "Read
  * resolution and staleness").
  *
  * One map from a normalized dir path to an entry of (listing
  * fingerprint, schema, resolved frame, k-row artifacts):
  *
  *  - the SCHEMA spares a fresh `spark.read.parquet(dir)` its footer
  *    inference job; the writer seeds it ([[seed]]) so even the first
  *    read of a new generation launches none;
  *  - the FRAME is served to every consumer of the same generation (a
  *    build's refs, the probe readers, the maintenance tools), so its
  *    pinned listing is resolved once;
  *  - the ARTIFACTS are driver-side k-row collects of that frame
  *    (centroids, codebook, means, an HWM scalar), computed once per
  *    generation however many nodes ask.
  *
  * Validity: before serving anything memoized, [[read]] recomputes the
  * dir's listing fingerprint — relative path, length and mtime of every
  * file under it. Spark part files carry a per-write UUID, so every
  * write (an engine materialize, a [[DirSwap]] of the dir or of a bucket
  * subdir, a streaming sink, a direct `df.write.parquet`) changes it and
  * the entry is re-resolved. Writers call nothing.
  *
  * CONTRACT: memoized artifacts are shared across every consumer of the
  * frame — treat them as read-only (no in-place sort or mutation).
  *
  * Persists: engine-internal frames persisted for the consumers of ONE
  * build ([[persistForBuild]]) are unpersisted when the build ends
  * ([[Engine.build]]'s finally → [[drainPersists]]). Unpersisting is
  * never a correctness hazard: a late consumer recomputes from lineage.
  */
final class Resolver private (spark: SparkSession) {

  private final class Entry(
      val fingerprint: String,
      val mergeSchema: Boolean,
      val schema: StructType,
      val frame: DataFrame) {
    val artifacts = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  }

  private val entries = new java.util.concurrent.ConcurrentHashMap[String, Entry]()
  private val persists = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Read `dir` as parquet (footer schema merging when `mergeSchema`):
    * the memoized frame while the listing fingerprint is unchanged
    * (zero jobs), else a fresh resolution — with the seeded schema when
    * the writer left one for this fingerprint. The fingerprint is taken
    * BEFORE resolving, so a racing write only ever causes a miss. */
  def read(dir: String, mergeSchema: Boolean = false): DataFrame = {
    val k = Resolver.key(dir)
    val fp = Resolver.fingerprint(k)
    val e = entries.get(k)
    val current = e != null && fp.nonEmpty && e.fingerprint == fp &&
      e.mergeSchema == mergeSchema
    if (current && e.frame != null) e.frame
    else {
      val df =
        if (current) spark.read.schema(e.schema).parquet(dir)
        else if (mergeSchema) spark.read.option("mergeSchema", "true").parquet(dir)
        else spark.read.parquet(dir)
      put(k, new Entry(fp, mergeSchema, df.schema, df))
      df
    }
  }

  /** Record what a read-back of the layout just written to `dir` infers
    * (`written` in read order: data columns, then partition columns),
    * under the post-write fingerprint. Callers seed only successful
    * writes of inference-stable layouts. */
  def seed(dir: String, written: StructType): Unit = {
    val k = Resolver.key(dir)
    put(k, new Entry(Resolver.fingerprint(k), false,
      Resolver.asNullable(written).asInstanceOf[StructType], null))
  }

  /** The artifact in `slot` of `frame`, computed once per entry: when
    * this resolver served `frame`, the value is memoized on its entry
    * and retires with it; any other frame is computed without a memo. */
  def artifact[T <: AnyRef](frame: DataFrame, slot: String)(compute: => T): T =
    entries.values.asScala.find(_.frame eq frame) match {
      case None => compute
      case Some(e) =>
        Option(e.artifacts.get(slot)).getOrElse {
          val v = compute
          e.artifacts.putIfAbsent(slot, v)
          v
        }.asInstanceOf[T]
    }

  /** Persist `df` for the consumers of the running build; released by
    * [[drainPersists]] when the build ends. */
  def persistForBuild(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    persists.add(p)
    p
  }

  /** Unpersist (non-blocking) every frame persisted since the last drain. */
  def drainPersists(): Unit = {
    var d = persists.poll()
    while (d != null) {
      try { d.unpersist(false); () } catch { case _: Throwable => () }
      d = persists.poll()
    }
  }

  /** A dir whose listing failed (fingerprint "") is never memoized. A
    * long-lived driver churns through many temp warehouses: past the cap
    * the map resets — a re-resolution cost, never a correctness one. */
  private def put(k: String, e: Entry): Unit =
    if (e.fingerprint.nonEmpty) {
      if (entries.size >= Resolver.MaxEntries) entries.clear()
      entries.put(k, e)
      ()
    }
}

object Resolver {
  private val MaxEntries = 8192

  /** The per-session registry. A stopped session's resolver is dropped
    * the next time any session asks for one. */
  private val sessions = new java.util.IdentityHashMap[SparkSession, Resolver]()

  def apply(spark: SparkSession): Resolver = sessions.synchronized {
    sessions.keySet.removeIf(_.sparkContext.isStopped)
    sessions.computeIfAbsent(spark, s => new Resolver(s))
  }

  private def key(dir: String): String =
    Paths.get(dir).toAbsolutePath.normalize.toString

  /** Listing fingerprint of `dir`: MD5 over the sorted (relative path,
    * length, mtime) of every file under it; "" when it cannot be listed. */
  private def fingerprint(dir: String): String = {
    val root = Paths.get(dir)
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      Files.walkFileTree(root, new SimpleFileVisitor[Path] {
        override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
          files += s"${root.relativize(f)}\u0000${a.size}\u0000${a.lastModifiedTime.toMillis}\n"
          FileVisitResult.CONTINUE
        }
        // a file deleted mid-walk is skipped: the listing is moving, and
        // the next read of the settled dir fingerprints differently
        override def visitFileFailed(f: Path, e: java.io.IOException): FileVisitResult =
          if (f == root) throw e else FileVisitResult.CONTINUE
      })
      val md = java.security.MessageDigest.getInstance("MD5")
      files.sorted.foreach(l => md.update(l.getBytes("UTF-8")))
      java.util.HexFormat.of.formatHex(md.digest)
    } catch { case _: java.io.IOException => "" }
  }

  /** What a parquet read-back of a written schema infers: every field,
    * array element and map value NULLABLE; names, types and order kept. */
  private def asNullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(asNullable(m.keyType), asNullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
