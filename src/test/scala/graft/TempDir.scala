package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

/** The one way a spec makes a scratch directory (a warehouse, an MV
  * root, an input fixture): `Files.createTempDirectory` under
  * `java.io.tmpdir`, deleted with everything in it when the test JVM
  * exits. */
object TempDir {
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    made.forEach(deleteTree)))

  def apply(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    made.add(p)
    p
  }

  private def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val w = Files.walk(root)
      try w.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      catch { case scala.util.control.NonFatal(_) => () } // best effort
      finally w.close()
    }
}
