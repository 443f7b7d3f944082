package graft.transport

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

/** The landing zone's write protocol, shared by every transport that drops
  * export batches into the watched source dir ([[GrpcOtlpReceiver]]'s
  * Export, [[RemoteReadServer]]'s `/ingest`). A half-written file must never
  * be visible to the file-stream source, whose listing filters only dot- and
  * underscore-prefixed names: the batch is written under a dot-prefixed temp
  * name (a visible temp picked up mid-write, then renamed away, would poison
  * the stream's offset log), and a same-directory ATOMIC_MOVE then reveals
  * the completed file in one step. */
private[transport] object Landing {

  /** Land one file in `dir` as `<kind>_<nanos>_<n>.parquet`. `write` gets
    * the dot-prefixed temp path, which does not exist yet, and must leave the
    * complete file there. A checksum sidecar a Hadoop writer leaves beside
    * it (`.<temp name>.crc`) is deleted, and so is the temp on failure. Returns
    * the revealed file. */
  def reveal(dir: File, kind: String, n: Long)(write: File => Unit): File = {
    dir.mkdirs()
    val tmp = new File(dir, s".${kind}_${n}_${System.nanoTime()}.tmp")
    val crc = new File(dir, s".${tmp.getName}.crc")
    try {
      write(tmp)
      val dst = new File(dir, s"${kind}_${System.nanoTime()}_$n.parquet")
      Files.move(tmp.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
      dst
    } finally {
      // both dot-prefixed, so never listed; after a move the temp is gone
      tmp.delete()
      crc.delete()
    }
  }
}
