package graft

import java.net.URI

import org.apache.hadoop.fs.RawLocalFileSystem

/** The local file system under its own scheme, `graftlocal:`, for specs
  * that need a file system only a configured Hadoop conf can resolve
  * (`fs.graftlocal.impl` names this class).
  */
class SchemeLocalFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${SchemeLocalFileSystem.Scheme}:///")
  override def getScheme: String = SchemeLocalFileSystem.Scheme
}

object SchemeLocalFileSystem {
  val Scheme = "graftlocal"
}
