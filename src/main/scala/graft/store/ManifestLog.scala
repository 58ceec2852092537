package graft.store

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** A versioned pointer-file log — the one commit protocol of every
  * incremental lake: the statement [[MergeLake]] (`manifest-<N>`), the
  * blocker index (`blkidx-<N>`) and the inverted-reference index
  * (`refidx-<N>`). Each committed state is one file
  * `<prefix>-<NNNNNNNN>` under the owner's root; the highest version is
  * current, and older versions stay readable (pinned reads) inside the
  * retention horizon. An owner supplies only its line codec and names
  * the data directories its states reference.
  *
  * '''Commit.''' The complete body is written to a `.tmp-<uuid>` name
  * and renamed onto the next version — a single-file atomic create —
  * so a crash before the rename leaves the previous state current and
  * a crash after it leaves the new one fully committed. Loud-failure
  * guard for the two-writer race: on HDFS rename-onto-existing fails by
  * itself, but on RawLocalFileSystem and POSIX-rename object-store
  * connectors it silently OVERWRITES — so the destination is
  * exists()-checked immediately before the rename, and the committed
  * file is read back and compared after it. A loser of the race
  * therefore errors (either pre-rename, or post-rename when the
  * read-back shows another writer's body) instead of silently
  * clobbering or being clobbered. The check is best-effort — a
  * sub-millisecond mutual window remains on overwrite-rename
  * filesystems — which is why a single concurrent writer stays the
  * documented production assumption; the guard turns the likely races
  * loud.
  */
final class ManifestLog[M](prefix: String, kind: String)(
    encode: M => String, decode: (Int, String) => M) {

  private val Version = s"$prefix-([0-9]{8})".r

  private def fs(s: SparkSession, root: Path): FileSystem =
    root.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def file(root: Path, v: Int): Path =
    new Path(root, f"$prefix-$v%08d")

  private def text(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Committed versions under `root`, ascending. */
  private def versions(s: SparkSession, root: Path): Seq[Int] = {
    val f = fs(s, root)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).map(_.getPath.getName).collect {
      case Version(n) => n.toInt
    }.toSeq.sorted
  }

  /** The current committed state, or the `pinned` version's. */
  def read(s: SparkSession, root: Path, pinned: Option[Int] = None): M = {
    val v = pinned.getOrElse {
      val vs = versions(s, root)
      require(vs.nonEmpty, s"not a $kind (no $prefix-<N> under $root)")
      vs.last
    }
    decode(v, text(fs(s, root), file(root, v)))
  }

  /** Publish `m` as `version` (see the class doc for the protocol). */
  def commit(s: SparkSession, root: Path, version: Int, m: M): Unit = {
    val f = fs(s, root)
    val body = encode(m)
    val dst = file(root, version)
    val tmp = new Path(root, s"${dst.getName}.tmp-${UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    ManifestLog.onStep("publish-staged")
    def lost(): Nothing = {
      f.delete(tmp, false)
      sys.error(s"$kind publish lost a race: $dst already committed by " +
        "another writer (single-writer assumption violated); the data " +
        "this write staged is unreferenced and will be GC'd — re-read " +
        "the current state and retry the write")
    }
    if (f.exists(dst)) lost()
    if (!f.rename(tmp, dst)) lost()
    if (text(f, dst) != body)
      sys.error(s"$kind publish raced and was clobbered: $dst holds " +
        "another writer's commit (single-writer assumption violated)")
  }

  /** Trim to the retention horizon: delete every version older than the
    * newest [[ManifestLog.retained]], every stray `.tmp-` file of this
    * log, and every owner data entry under `root` (`data(name)`) that
    * no retained version references (`refs`). Callers may keep other
    * files in the root — nothing else is touched. Crash-safe:
    * everything deleted is unreachable from every retained version.
    */
  def trim(s: SparkSession, root: Path)(data: String => Boolean,
      refs: M => Iterable[String]): Unit = {
    val f = fs(s, root)
    val keep = versions(s, root).takeRight(ManifestLog.retained).toSet
    val live = keep.toSeq.flatMap(v => refs(read(s, root, Some(v)))).toSet
    f.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      val stale = n match {
        case Version(v) => !keep(v.toInt)
        case _ => (n.startsWith(s"$prefix-") && n.contains(".tmp-")) ||
          (data(n) && !live(n))
      }
      if (stale) f.delete(st.getPath, true): Unit
    }
  }
}

object ManifestLog {

  /** Test-only failpoint: invoked with a step name at every side-effect
    * boundary of the store writers (`publish-staged` inside every
    * commit, between the tmp write and the rename; the MergeLake data
    * steps); a spec that throws from here simulates a crash between
    * steps, one that runs another writer from here drives a race.
    */
  private[graft] var onStep: String => Unit = _ => ()

  /** GC horizon of every log: how many committed versions (current
    * included) stay readable, with everything they reference. A reader
    * that resolved version N races a concurrent writer's trim; keeping
    * the previous version gives it one full cycle of grace — the
    * snapshot-isolation horizon a production lake sizes by reader
    * latency. Override with `graft.mergelake.retain` /
    * `GRAFT_MERGELAKE_RETAIN` (≥ 1, default 2).
    */
  def retained: Int =
    sys.props.get("graft.mergelake.retain")
      .orElse(sys.env.get("GRAFT_MERGELAKE_RETAIN"))
      .map(_.toInt).getOrElse(2).max(1)
}
