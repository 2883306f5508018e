package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

object Util {
  private val om = new ObjectMapper()

  /** One JSON object per line. */
  def readJsonl(path: String): Array[JsonNode] =
    Files.readAllLines(Paths.get(path)).asScala
      .filter(_.nonEmpty).map(l => om.readTree(l)).toArray

  def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong).toSeq

  /** Order-independent digest of a key multiset: [count, sum, sum of
    * (key · 2654435761) mod 1000000007]. The checker computes the same
    * three numbers from ground truth. */
  def digest(keys: Iterator[Long]): String = {
    var n, s, h = 0L
    keys.foreach { k => n += 1; s += k; h += (k * 2654435761L) % 1000000007L }
    s"[$n,$s,$h]"
  }

  /** Total size of the regular files under `p`. */
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
}

/** Counts bytes written under a directory: each sweep adds the size of
  * every file that is new or changed (size or mtime) since the last one, so
  * rewrites by compaction count again. Sweeps run outside timed intervals. */
final class DiskMeter(root: Path) {
  private var seen = Map.empty[Path, (Long, Long)]
  var written = 0L

  def sweep(): Unit = if (Files.exists(root)) {
    val st = Files.walk(root)
    val now = try st.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toMap
    finally st.close()
    now.foreach { case (f, v) => if (!seen.get(f).contains(v)) written += v._1 }
    seen = now
  }
}
