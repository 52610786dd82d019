package graft.views

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.immutable.TreeMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The view catalog's one commit record — the analog of the reference's
  * timestamp oracle plus its durable catalog transaction (reference
  * `src/timestamp-oracle/src/lib.rs:46`: one authority hands out strictly
  * increasing write timestamps and linearizes every write, so reads of
  * INDEPENDENT collections can be pinned to one clock).
  *
  * Every commit is ONE entry `_timeline/t-<ts>`, written to a temp file and
  * atomically renamed into place; the rename is the commit's visibility
  * point. An entry is a list of tagged lines, so no view or group name can
  * collide with a reserved key:
  * {{{
  * view <version> <name>     the version `name` has from this commit on
  * drop <name>               tombstone: `name` is dropped
  * group <batchId> <group>   a group commit and its last applied batchId
  * }}}
  * A version-0 line starts a new incarnation of the view (CREATE, CREATE OR
  * REPLACE), so its older history is forgotten, as it is after a drop.
  *
  * The index (view -> commit ts -> version, group -> last commit ts and
  * batchId) is built from one listing of `_timeline` at open and updated
  * after each rename; every "what is current" and "what was current at ts"
  * question reads only the index. Timestamps are `max + 1` under this
  * instance's lock, so ONE instance per directory is the authority — two
  * catalogs open over one directory would hand out the same timestamp (the
  * reference routes allocation through one oracle for the same reason).
  */
private[views] final class CommitTimeline(baseDir: String) {
  import CommitTimeline._

  private val dir: Path = Paths.get(baseDir, "_timeline")
  private val history = mutable.HashMap.empty[String, TreeMap[Long, Long]]
  private val groups = mutable.HashMap.empty[String, (Long, Long)]
  private var last = 0L

  Files.createDirectories(dir)
  locally {
    // a `.tmp` file is a commit that crashed before its rename: invisible
    val s = Files.list(dir)
    val stamps =
      try s.iterator.asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("t-") && !n.endsWith(".tmp"))
        .map(_.stripPrefix("t-").toLong).toVector
      finally s.close()
    stamps.sorted.foreach(ts => index(ts, decode(Files.readAllLines(entryFile(ts)).asScala)))
  }

  private def entryFile(ts: Long): Path = dir.resolve(f"t-$ts%019d")

  /** Make `e` durable and visible at the next timestamp, which is returned. */
  def commit(e: Entry): Long = synchronized {
    val ts = last + 1
    val tmp = dir.resolve(f"t-$ts%019d.tmp")
    Files.write(tmp, encode(e).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, entryFile(ts), StandardCopyOption.ATOMIC_MOVE)
    index(ts, e)
    ts
  }

  private def index(ts: Long, e: Entry): Unit = {
    e.views.foreach { case (n, v) =>
      history(n) =
        if (v == 0L) TreeMap(ts -> v)
        else history.getOrElse(n, TreeMap.empty[Long, Long]).updated(ts, v)
    }
    e.dropped.foreach(history.remove)
    e.group.foreach { case (g, batchId) => groups(g) = (ts, batchId) }
    last = ts
  }

  /** Timestamp of the latest commit: every commit at or below it is durable. */
  def readTs: Long = synchronized(last)

  /** The version `name` has now, if it exists. */
  def version(name: String): Option[Long] =
    synchronized(history.get(name).map(_.last._2))

  /** The version `name` had as of time `ts` (its latest commit at or before
    * `ts` in its current incarnation), if it existed then. */
  def versionAt(name: String, ts: Long): Option[Long] =
    synchronized(history.get(name).flatMap(_.rangeTo(ts).lastOption).map(_._2))

  /** (timestamp, batchId) of the group's latest commit. */
  def group(g: String): Option[(Long, Long)] = synchronized(groups.get(g))
}

private[views] object CommitTimeline {

  /** One commit: the new version of each view it advances, the views it
    * drops, and for a group commit the group and its last applied batchId. */
  final case class Entry(views: Map[String, Long] = Map.empty,
      dropped: Seq[String] = Nil, group: Option[(String, Long)] = None)

  private def encode(e: Entry): String = {
    val names = e.views.keys ++ e.dropped ++ e.group.map(_._1)
    require(names.forall(n => !n.contains('\n')), s"name with a line break in $names")
    (e.group.map { case (g, b) => s"group $b $g" }.toSeq ++
      e.views.toSeq.sortBy(_._1).map { case (n, v) => s"view $v $n" } ++
      e.dropped.map(n => s"drop $n")).mkString("\n")
  }

  private def decode(lines: Iterable[String]): Entry =
    lines.filter(_.nonEmpty).foldLeft(Entry()) { (e, line) =>
      line.split(" ", 3) match {
        case Array("view", v, n) => e.copy(views = e.views + (n -> v.toLong))
        case Array("group", b, g) => e.copy(group = Some(g -> b.toLong))
        case _ if line.startsWith("drop ") => e.copy(dropped = e.dropped :+ line.stripPrefix("drop "))
        case _ => throw new IllegalStateException(s"unreadable timeline line: $line")
      }
    }
}
