package graft

import java.io.IOException
import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.fs.{FileUtil, Path, RawLocalFileSystem}

/** A SIMULATED OBJECT STORE for the keyed-store specs: local storage
  * under an `simobj://` scheme whose `rename` is what S3/GCS actually
  * give you — a COPY followed by a DELETE, with an injectable crash
  * between (or during) the two. Everything else delegates to the local
  * filesystem, which is strictly KINDER than a real object store
  * (exclusive create is check-then-act here too, but mtimes work), so
  * a protocol that survives this fs's rename torn in half AND never
  * relies on rename for its lock or its commits is object-store-shaped
  * where it matters: the atomicity of publish.
  *
  * Every rename is also RECORDED (source path), so a spec can assert
  * the election lock literally never renames a control path — the
  * non-atomic primitive is not merely survived but avoided.
  */
class SimObjFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "simobj"
  override def getUri: URI = URI.create("simobj:///")

  override def rename(src: Path, dst: Path): Boolean = {
    SimObjFileSystem.renamedPaths.add(src.toString)
    SimObjFileSystem.crashPoint match {
      case "before-copy" =>
        throw new IOException(s"simulated crash before copy of $src")
      case "after-copy" =>
        // the object-store failure shape: the copy landed, the delete
        // never ran — BOTH names now exist; a protocol that treated
        // this rename as atomic has a torn world
        FileUtil.copy(this, src, this, dst, false, true, getConf)
        throw new IOException(
          s"simulated crash after copy $src -> $dst, before delete")
      case _ =>
        FileUtil.copy(this, src, this, dst, false, true, getConf)
        delete(src, true)
    }
  }
}

object SimObjFileSystem {
  /** "" = renames complete (copy+delete); "before-copy" / "after-copy"
    * = throw at that point of the NEXT rename(s). Reset after use.
    */
  @volatile var crashPoint: String = ""
  val renamedPaths = new ConcurrentLinkedQueue[String]()
}
