package graft.plans

/** Minimal JSON string escape/unescape shared by every manifest writer
  * (superstep manifests, SCC round manifests, the table catalog). One
  * implementation, one set of escaping rules: an escaping bug fixed here
  * can't silently live on in a second copy and corrupt a different
  * manifest family's resume path.
  */
object Jsonl {

  /** Escape + quote: caller-supplied names/paths may carry quotes,
    * backslashes or control characters that would corrupt a manifest line.
    */
  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Crash-mid-append recovery for a JSONL manifest: if (only) the FINAL
    * line fails `parses`, it is the torn tail a killed writer leaves —
    * truncate it off the file (WAL-style repair, so later appends leave a
    * clean manifest instead of a permanently-unparseable mid-file line)
    * and return the surviving lines. Every other parse failure is left for
    * the caller to fail loudly on. Single-writer manifests only.
    *
    * The repair writes a `<manifest>.repair-<uuid>` sibling, forces it to
    * disk, then renames it over the manifest atomically — a process crash
    * at any point leaves either the old or the repaired manifest, never a
    * truncated one (the rename's own durability across power loss is the
    * file system's). A crash before the rename leaves the temp file behind;
    * the next call sweeps such stale siblings on entry.
    */
  def repairTornTail(
      p: java.nio.file.Path, parses: String => Boolean): Seq[String] = {
    import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}
    import scala.jdk.CollectionConverters._
    val prefix = p.getFileName.toString + ".repair-"
    val stale = Files.list(p.toAbsolutePath.getParent)
    try stale.iterator().asScala
      .filter(_.getFileName.toString.startsWith(prefix))
      .foreach(Files.deleteIfExists)
    finally stale.close()
    val lines = Files.readAllLines(p).asScala.toSeq
    if (lines.nonEmpty && !parses(lines.last) && lines.init.forall(parses)) {
      graft.Log.v(s"resume: truncating torn final manifest line in $p")
      val tmp = p.resolveSibling(prefix + java.util.UUID.randomUUID())
      try {
        val buf = java.nio.ByteBuffer.wrap(
          lines.init.mkString("", "\n", if (lines.init.isEmpty) "" else "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val ch = java.nio.channels.FileChannel.open(tmp,
          StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
        try {
          while (buf.hasRemaining) ch.write(buf)
          ch.force(true)
        } finally ch.close()
        Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      } finally Files.deleteIfExists(tmp)
      lines.init
    } else lines
  }

  /** Inverse of [[jstr]] for an already-unquoted body. */
  def junstr(s: String): String = {
    val out = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s(i) == '\\' && i + 1 < s.length) s(i + 1) match {
        case 'u' => out += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
        case c => out += c; i += 2
      } else { out += s(i); i += 1 }
    }
    out.toString
  }
}
