package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

object Io {
  /** Deletes `p` and everything under it; absent is fine. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(f => Files.delete(f))
      finally s.close()
    }
}
