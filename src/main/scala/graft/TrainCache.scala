package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Train-once fixture cache for SERVING-side tokenizer gates (r11
  * VERDICT #8): q192/q195/q197 each retrained their model IN-GATE on
  * every bench attempt (~6% of the sf0.1 suite) even though their
  * correctness claim is about SERVING against a trained table, and each
  * family already has a dedicated full-train gate (q191 WordPiece, q194
  * Unigram, q145/q176 BPE) that always trains fresh. This cache
  * persists the tiny trained table (merge list / vocabulary / score
  * map — bounded model artifacts, k + alphabet rows) to parquet keyed
  * by corpus identity, so the first attempt trains and later attempts
  * load through the SAME load-guarded FromDF paths a production serving
  * session would use. Oracle coverage is identical: training is
  * deterministic, so the cached table is bit-equal to a fresh one, and
  * the oracle replays the full training chain regardless.
  *
  * Corpus identity = the sfDir path + documents.parquet mtime: a
  * regenerated corpus (ScaleData rewrites /tmp/sf1) changes the mtime
  * and misses the cache. A hypothetical stale hit fails LOUD, not
  * silent — the oracle retrains on the new corpus and the hash compare
  * goes red.
  *
  * Concurrency: two sessions (a bench and a background verify) may
  * build the same entry simultaneously — each writes to a unique temp
  * dir and atomically moves it into place; the loser of the race
  * deletes its copy and reads the winner's (both are bit-identical).
  */
object TrainCache {

  private def fingerprint(sfDir: String): String = {
    val doc = Paths.get(sfDir, "documents.parquet")
    val mtime =
      if (Files.exists(doc)) Files.getLastModifiedTime(doc).toMillis else 0L
    val h = scala.util.hashing.MurmurHash3.stringHash(s"$sfDir@$mtime")
    java.lang.Integer.toHexString(h)
  }

  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** Load `name`'s trained table for the `sfDir` corpus, building and
    * persisting it on first use. The returned frame always comes from
    * the stored parquet (never the in-memory build), so every caller
    * exercises the same load path. */
  def getOrBuild(spark: SparkSession, sfDir: String, name: String)
                (build: => DataFrame): DataFrame = {
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft_train_cache")
    Files.createDirectories(root)
    val target = root.resolve(s"$name-${fingerprint(sfDir)}")
    if (!Files.exists(target)) {
      // cache miss: purge this entry's STALE-fingerprint siblings (a
      // regenerated corpus changes the mtime fingerprint, so the old
      // entry can never hit again — without this, repeated ScaleData
      // regenerations grow tmp unboundedly). Two safety bounds (r13
      // ADVICE): (1) only entries matching this cache's EXACT
      // `name-<hex fingerprint>` shape — a bare startsWith would let a
      // cache whose name is a prefix of another's (plus '-') delete the
      // other's entries; (2) only entries older than a 1 h safety
      // window — Spark resolves parquet files at SCAN time, so a
      // CONCURRENT session on a different sfDir (an sf1 bench
      // overlapping an sf0.1 verify — the documented round workflow)
      // may hold a lazily-read frame over a sibling, and purging it
      // mid-flight fails that session's query with FileNotFound,
      // misreadable as a correctness-gate failure. An hour outlives any
      // single gate/bench session; truly stale entries age out on the
      // next miss after it.
      try {
        val entryShape = (java.util.regex.Pattern.quote(name) + "-[0-9a-f]{1,8}").r
        val cutoff = System.currentTimeMillis() - 3600L * 1000
        val s = Files.list(root)
        try s.filter { p =>
            val fn = p.getFileName.toString
            entryShape.matches(fn) && p.getFileName != target.getFileName &&
              (try Files.getLastModifiedTime(p).toMillis < cutoff
               catch { case _: Throwable => false })
          }
          .forEach(p => try deleteRecursively(p) catch { case _: Throwable => () })
        finally s.close()
      } catch { case _: Throwable => () }
      val tmp = root.resolve(s".${java.util.UUID.randomUUID}")
      // a failed build (or a JVM death mid-write — the next session's
      // miss-path purge can't see dot-dirs, so clean our own) must not
      // orphan the temp dir forever
      try {
        build.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        catch {
          // another session won the race; its copy is bit-identical
          case _: java.nio.file.FileAlreadyExistsException => deleteRecursively(tmp)
          case _: java.nio.file.DirectoryNotEmptyException => deleteRecursively(tmp)
        }
      } catch {
        case e: Throwable => deleteRecursively(tmp); throw e
      }
    }
    spark.read.parquet(target.toString)
  }
}
