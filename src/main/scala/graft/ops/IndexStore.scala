package graft.ops

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistence for trained/derived index artifacts — the operational
  * "build once per corpus version, query many" contract. The in-session
  * [[IndexMemo]] caches stand in for these materializations during one
  * run; this writes the same tables to parquet so a LATER session (or
  * another cluster) loads the index instead of re-training:
  *
  *  - IVF coarse quantizer: (cid, c_vec) — k rows;
  *  - PQ codebooks:        (j, cid, c_vec) — m·k rows;
  *  - PQ codes:            (vec_id, codes[m]) — n rows, the 16×-compressed
  *                         corpus representation ADC scans at query time;
  *  - dedup decision tables (verified pairs, keep/drop) via [[loadOrBuild]].
  *
  * All round-trip exactly (parquet ints/doubles are lossless), so loaded
  * artifacts reproduce memoized-path results bit-for-bit — pinned in
  * IndexStoreSpec by recomputing centroid assignments from a LOADED
  * quantizer and comparing to the in-session path.
  *
  * The reference keeps its dedup cache durable in Redis
  * (`categorize-trail-conditions/src/db.py:24-27`) so a restarted worker
  * never re-categorizes; [[loadOrBuild]] is the engine's equivalent
  * durability for every expensive memo.
  */
object IndexStore {

  /** Artifact cache root: override with GRAFT_INDEX_CACHE; defaults under
    * the system temp dir (NOT the repo tree). Artifacts are bounded index
    * tables (k·dim centroids, near-dup pairs, per-doc decisions) — never
    * the corpus itself.
    */
  private def cacheRoot: String =
    sys.env.getOrElse("GRAFT_INDEX_CACHE",
      s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft-index-cache")

  /** Per-process record of which artifacts were loaded vs built this
    * session — surfaced by [[graft.Bench]] so cold-build cost attribution
    * is explicit in bench output.
    */
  val events: TrieMap[String, String] = TrieMap.empty

  /** Record a one-off SESSION FIXTURE build (bucketed twin tables,
    * partitioned/fragmented copies, format dumps, synthesized media) in
    * the same attribution log as durable artifacts — so a bench sample
    * that paid a fixture write is explainable from bench.json alone. */
  def recordFixtureBuild(tag: String): Unit = {
    events.put(s"fixture-$tag", "build"); ()
  }

  private def sha16(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** Canonical artifact name for (`base`, input directory): the readable
    * basename PLUS a short full-path hash. The path hash matters because
    * the stale-generation sweep deletes ALL same-name siblings — two
    * corpus dirs that share a basename (/a/sf1 vs /b/sf1) must be two
    * artifact names, or each build deletes the other's live artifact.
    */
  def scopedName(base: String, dir: String): String = {
    val p = Paths.get(dir).toAbsolutePath
    s"$base-${p.getFileName}-${sha16(p.toString).take(6)}"
  }

  /** Durable build-once memo: if a parquet artifact for (`name`,
    * `identity`) exists, scan it (tiny logical plan — downstream queries
    * compose over a plain file scan instead of a deep cached lineage);
    * otherwise evaluate `build`, materialize it to parquet, and scan the
    * materialization. `identity` must encode the INPUT FILE IDENTITY
    * (each leaf file's size+mtime, [[graft.sources.Tables.fileIdent]])
    * plus every parameter the artifact depends on — the driver regenerates testdata
    * between rounds, and a stale artifact must miss, not silently serve.
    *
    * Concurrency: in-process builds are serialized per key by the
    * [[IndexMemo]] callers wrapping this; across processes the write goes
    * to a unique temp dir then an atomic rename — a losing racer deletes
    * its temp dir and reads the winner's artifact. Older generations of
    * the same `name` are deleted best-effort on build (bounded /tmp).
    */
  def loadOrBuild(s: SparkSession, name: String, identity: String)(
      build: => DataFrame): DataFrame = {
    val dirName = s"$name-${sha16(identity)}"
    val target = Paths.get(cacheRoot, dirName)
    if (Files.exists(target.resolve("_SUCCESS"))) {
      events.putIfAbsent(name, "load")
      s.read.parquet(target.toString)
    } else {
      events.put(name, "build")
      val tmp = Paths.get(cacheRoot,
        s"$dirName.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      val built = build
      built.write.mode("overwrite").parquet(tmp.toString)
      publishStaged(tmp, target)
      dropStaleGenerations(name, dirName)
      // the schema is known: reading it back infers nothing (no footer job)
      s.read.schema(built.schema).parquet(target.toString)
    }
  }

  /** Atomically publish a fully built staging dir, UNLESS the stale
    * sweeper tombstoned it mid-build (an implausibly long build crossed
    * the 24 h tmp grace and another process started reclaiming): moving a
    * partially swept dir would durably memoize a TRUNCATED artifact with
    * a valid _SUCCESS — the one failure mode worse than any leak. A
    * tombstoned build fails loudly; the next call rebuilds into a fresh
    * staging dir. */
  private def publishStaged(tmp: java.nio.file.Path,
      target: java.nio.file.Path): Unit = {
    if (Files.exists(tmp.resolve(SweepTombstone))) {
      deleteRecursively(tmp)
      sys.error(s"artifact staging $tmp was reclaimed by the stale sweeper " +
        "mid-build (staged past the 24h tmp grace) — rerun to rebuild")
    }
    try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException |
          _: java.nio.file.DirectoryNotEmptyException =>
        deleteRecursively(tmp) // another process won the build race
    }
  }

  private val SweepTombstone = ".swept"

  /** Directory variant of [[loadOrBuild]] for fixtures that are FORMAT
    * DIRECTORIES rather than DataFrames (date-partitioned layouts,
    * deliberately fragmented pre-states): `build` writes into a unique
    * temp dir, an atomic rename publishes it under the identity-keyed
    * name, and a losing concurrent racer deletes its temp dir and uses
    * the winner's — the same no-race discipline, without the per-appId
    * keying that forced every process to rebuild.
    */
  def loadOrBuildDir(name: String, identity: String)(
      build: java.nio.file.Path => Unit): String = {
    val dirName = s"$name-${sha16(identity)}"
    val target = Paths.get(cacheRoot, dirName)
    if (Files.exists(target.resolve("_SUCCESS"))) {
      events.putIfAbsent(name, "load")
      target.toString
    } else {
      events.put(name, "build")
      val tmp = Paths.get(cacheRoot,
        s"$dirName.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      build(tmp)
      publishStaged(tmp, target)
      dropStaleGenerations(name, dirName)
      target.toString
    }
  }

  /** Grace period before a stale generation is deleted: another live JVM
    * (still keyed to the PREVIOUS testdata) may be mid-scan over the old
    * artifact, and yanking its data files fails that process's in-flight
    * queries with FileNotFound. Age-gating the sweep bounds the race: a
    * sibling younger than the grace is spared this sweep and collected by
    * a later build once its readers are plausibly gone. Testdata
    * regenerations are rounds (hours) apart, so truly stale artifacts are
    * always past the gate by the time the rebuild sweeps. */
  private val StaleGraceMs: Long =
    sys.env.get("GRAFT_INDEX_STALE_GRACE_MS").map(_.toLong)
      .getOrElse(30L * 60 * 1000)

  /** Older generations of `name` (stale testdata) are dead /tmp weight.
    * `name` must carry every caller-variable parameter (the sweep deletes
    * ALL same-name siblings) — identity hashes distinguish generations,
    * not variants.
    *
    * `.tmp-` staging dirs get a FAR longer grace (24 h, not the
    * 30-minute generation grace): a concurrent process's in-flight build
    * can legitimately stage longer than the short grace (the dir's root
    * mtime goes stale while nested task files are still being written),
    * and sweeping it mid-build would publish a partially-deleted
    * artifact — but crash-orphaned staging is a full artifact-sized dir
    * that must eventually reclaim even where no OS tmp-reaper runs
    * (GRAFT_INDEX_CACHE on a plain volume). No build of these bounded
    * index artifacts plausibly stages for a day.
    */
  private val TmpStaleGraceMs: Long = 24L * 3600 * 1000

  private def dropStaleGenerations(name: String, keep: String): Unit = {
    val root = Paths.get(cacheRoot)
    if (Files.isDirectory(root)) {
      val now = System.currentTimeMillis()
      def olderThan(p: java.nio.file.Path, grace: Long): Boolean =
        try Files.getLastModifiedTime(p).toMillis < now - grace
        catch { case _: Exception => false } // vanished concurrently — skip
      val stream = Files.list(root)
      try {
        val it = stream.iterator()
        while (it.hasNext) {
          val p = it.next()
          val n = p.getFileName.toString
          val isTmp = n.contains(".tmp-")
          val grace = if (isTmp) TmpStaleGraceMs else StaleGraceMs
          if (n.startsWith(s"$name-") && n != keep && olderThan(p, grace)) {
            // tombstone FIRST on staging dirs: a still-live writer past
            // the 24h grace finds the marker at publish time and aborts
            // loudly instead of moving a partially swept dir into place
            if (isTmp) {
              try Files.write(p.resolve(SweepTombstone), Array.emptyByteArray)
              catch { case _: Exception => () }
            }
            deleteRecursively(p)
          }
        }
      } finally stream.close()
    }
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val stream = Files.walk(p)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      try {
        val it = stream.iterator()
        while (it.hasNext) {
          try Files.delete(it.next()) catch { case _: Exception => () }
        }
      } finally stream.close()
    }

  /** Write the trained IVF + PQ artifacts for `dir`'s corpus under `out`. */
  def saveIndexes(s: SparkSession, dir: String, out: String): Unit = {
    // coalesce(1): each artifact is bounded (k, m·k, n·m rows) — one file
    // per table is the layout a loader wants; the big corpus NEVER routes
    // through here
    SimilarityOps.kmeansCentroids(s, dir).coalesce(1)
      .write.mode("overwrite").parquet(s"$out/ivf_centroids")
    SimilarityOps.pqCodebooks(s, dir).coalesce(1)
      .write.mode("overwrite").parquet(s"$out/pq_codebooks")
    SimilarityOps.pqCodes(s, dir)
      .write.mode("overwrite").parquet(s"$out/pq_codes")
  }

  def loadIvfCentroids(s: SparkSession, out: String): DataFrame =
    s.read.parquet(s"$out/ivf_centroids")

  def loadPqCodebooks(s: SparkSession, out: String): DataFrame =
    s.read.parquet(s"$out/pq_codebooks")

  def loadPqCodes(s: SparkSession, out: String): DataFrame =
    s.read.parquet(s"$out/pq_codes")

  /** Assign every corpus vector to its nearest LOADED centroid — the
    * in-session coarse cells' kernel and tie contract (cos desc, then
    * cid), so a loaded quantizer reproduces assignments exactly.
    */
  def assignWithLoaded(s: SparkSession, dir: String, out: String): DataFrame = {
    val e = graft.sources.Tables.read(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("vec"))
    SimilarityOps.kmeansAssign(e, SimilarityOps.centroidCands(loadIvfCentroids(s, out)))
      .select(col("vec_id"), col("cid").as("cell"))
  }
}
