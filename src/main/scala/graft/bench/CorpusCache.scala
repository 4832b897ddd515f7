package graft.bench

import java.nio.file.{FileSystemException, Files, Path, StandardCopyOption}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import scala.jdk.CollectionConverters._
import scala.jdk.OptionConverters._
import scala.util.{Try, Using}

/** Synthesized corpora kept in `root` across runs, one per (docs, files
  * per batch) at a fixed seed; bump v1 when the generator changes. A
  * corpus is built in `<dir>.tmp-<pid>` and renamed into place (which
  * keeps the mtimes the stream's batch order follows); it is complete
  * once `_EXPECTED` (its expected rows) exists, whose mtime marks the
  * last use. Concurrent runs on one host are supported. */
final class CorpusCache(root: Path, mfpt: Int) {
  def dirOf(docs: Long): Path = root.resolve(s"corpus-v1-d$docs-m$mfpt-t1")
  private def marker(docs: Long): Path = dirOf(docs).resolve("_EXPECTED")
  def cached(docs: Long): Boolean = Files.exists(marker(docs))

  /** Mark a corpus as in use, before each level that reads it, so that
    * [[prune]] never evicts it mid-measurement. */
  def touch(docs: Long): Unit =
    Try(Files.setLastModifiedTime(marker(docs), FileTime.fromMillis(System.currentTimeMillis())))

  /** The corpus dir for `docs` and its expected rows: a cache hit, or
    * `synth(tmpDir)` (which fills `tmpDir/in` and `tmpDir/warm` and
    * returns the expected rows) published into the cache. */
  def ensure(docs: Long)(synth: Path => Long): (Path, Long) = {
    val dir = dirOf(docs)
    def hit = {
      System.err.println(s"[bench] corpus cache hit: $dir")
      touch(docs)
      (dir, Files.readString(marker(docs)).trim.toLong)
    }
    if (Files.exists(dir) && !cached(docs)) Measure.rmTree(dir) // a run killed mid-publish
    if (cached(docs)) hit
    else {
      prune(keep = dir)
      val tmp = root.resolve(s"${dir.getFileName}.tmp-${ProcessHandle.current().pid()}")
      try {
        val expected = synth(tmp)
        Files.writeString(tmp.resolve("_EXPECTED"), expected.toString)
        try { Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE); (dir, expected) }
        catch { case _: FileSystemException if cached(docs) => hit } // another run published first
      } finally Measure.rmTree(tmp)
    }
  }

  /** Bound the cache before a synthesis: tmpfs is RAM. A `.tmp-<pid>`
    * dir goes unless [[CorpusCache.ownerLive]]. Complete corpora are
    * evicted oldest use first while the total exceeds `capBytes`,
    * skipping any used in the last 30 min. Concurrent runs prune too:
    * an entry that vanishes reads as 0 bytes and just used. */
  def prune(keep: Path, now: Long = System.currentTimeMillis(), capBytes: Long = 16L << 30): Unit = {
    def rm(p: Path, what: String): Unit = {
      System.err.println(s"[bench] removing $what: $p")
      Try(Measure.rmTree(p)).failed.foreach(e => System.err.println(s"[bench] prune of $p lost a race: $e"))
    }
    def size(p: Path): Long = Try(Using.resource(Files.walk(p))(_.iterator().asScala
      .filter(Files.isRegularFile(_)).map(f => Try(Files.size(f)).getOrElse(0L)).sum)).getOrElse(0L)
    def lastUse(p: Path): Long = Try(Files.getLastModifiedTime(
      Some(p.resolve("_EXPECTED")).filter(Files.exists(_)).getOrElse(p)).toMillis).getOrElse(Long.MaxValue)
    val (tmps, corpora) = Using.resource(Files.list(root))(_.iterator().asScala.toList)
      .filter(p => p != keep && p.getFileName.toString.startsWith("corpus-v"))
      .partition(_.getFileName.toString.contains(".tmp-"))
    tmps.filterNot(CorpusCache.ownerLive).foreach(rm(_, "dead straggler"))
    // live tmp dirs count toward the bound but are never evicted
    var total = (tmps.filter(Files.exists(_)) ++ corpora).map(size).sum
    for (p <- corpora.sortBy(lastUse) if total > capBytes && lastUse(p) < now - 1800000L) {
      total -= size(p)
      rm(p, "cached corpus")
    }
  }
}

object CorpusCache {
  /** Whether the pid in `<dir>.tmp-<pid>` is alive and started no later
    * than the dir was created; a live pid that started later is a
    * recycled one. Creation is read as the earlier of birth and mtime,
    * since some file systems report mtime as birth. */
  def ownerLive(tmp: Path): Boolean = (for {
    m <- """\.tmp-(\d+)$""".r.findFirstMatchIn(tmp.getFileName.toString)
    owner <- m.group(1).toLongOption.flatMap(ProcessHandle.of(_).toScala)
  } yield Try {
    val a = Files.readAttributes(tmp, classOf[BasicFileAttributes])
    val created = math.min(a.creationTime().toMillis, a.lastModifiedTime().toMillis)
    owner.info().startInstant().toScala.forall(_.toEpochMilli <= created)
  }.getOrElse(true)).getOrElse(false) // vanished: its owner removed it
}
