package graft.ingest

import java.nio.file.{Files, LinkOption, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.model.Limits

/** Bounded, root-confined document input resolution — the driver-side
  * filesystem policy enforced BEFORE any Spark IO.
  *
  * Port of the reference's resolve_document_inputs
  * (reference: vector_mcp/document_inputs.py:19-147) with the same bounds
  * (document_inputs.py:13-16) and rejection rules: absolute paths, Windows
  * drives, `..` traversal, URLs (`://`), NUL bytes, paths over 4096 chars,
  * and symlinks at every component; paths deduped; per-file <= 64 MiB,
  * total <= 512 MiB, <= 1000 files; optional whole-root recursive scan
  * under the same bounds. Messages mirror the reference's strings (they
  * are the observable contract in tests/test_document_inputs.py).
  */
object DocumentInputs {

  final case class Resolved(directory: Option[Path], paths: Option[Seq[Path]])

  /** `directoryWithinRoot`: narrows the directory scan to a subdirectory
    * of the configured root (the retriever protocol's document_directory).
    * It may be absolute or root-relative, but its real path MUST stay
    * inside the configured root — a caller-supplied directory never
    * replaces the confinement root. None scans the whole root.
    */
  def resolveDocumentInputs(
      configuredRoot: String,
      includeConfiguredDirectory: Boolean,
      relativePaths: Seq[String] = Nil,
      documentContents: Seq[String] = Nil,
      directoryWithinRoot: Option[String] = None): Resolved = {

    if (documentContents.size > Limits.MaxFiles)
      fail("Too many inline documents")
    var inlineBytes = 0L
    documentContents.foreach { c =>
      inlineBytes += c.getBytes("UTF-8").length
      if (inlineBytes > Limits.MaxDocumentBytes)
        fail("Inline document content exceeded its size limit")
    }

    if (relativePaths.size > Limits.MaxFiles)
      fail("Too many configured documents")

    val requiresRoot = includeConfiguredDirectory || relativePaths.nonEmpty
    if (!requiresRoot) return Resolved(None, None)

    val rendered = Option(configuredRoot).map(_.trim).getOrElse("")
    if (rendered.isEmpty) fail("Configured document root is unavailable")
    val root =
      try Paths.get(rendered).toRealPath()
      catch { case _: Exception => fail("Configured document root is unavailable") }
    if (Files.isSymbolicLink(root) || !Files.isDirectory(root))
      fail("Configured document root is invalid")

    var selectedBytes = 0L
    val seen = scala.collection.mutable.LinkedHashSet.empty[Path]
    relativePaths.foreach { raw =>
      val r = Option(raw).map(_.trim).getOrElse("")
      val windowsDrive = r.length >= 2 && r(1) == ':' && r(0).isLetter
      val parts = r.split("[/\\\\]").toSeq
      if (r.isEmpty || r.length > 4096 || r.contains('\u0000') ||
          r.startsWith("/") || r.startsWith("\\") || windowsDrive ||
          parts.contains("..") || r.contains("://"))
        fail("Document path must be relative to the configured root")
      // symlink check at every component
      var cursor = root
      Paths.get(r).iterator().asScala.foreach { part =>
        cursor = cursor.resolve(part)
        if (Files.isSymbolicLink(cursor))
          fail("Document path may not traverse symbolic links")
      }
      val candidate =
        try root.resolve(r).toRealPath()
        catch { case _: Exception => fail("Configured document was not found") }
      if (!candidate.startsWith(root) || !Files.isRegularFile(candidate))
        fail("Document path escaped the configured root")
      if (!seen.contains(candidate)) {
        val size = Files.size(candidate)
        if (size > Limits.MaxFileBytes)
          fail("Configured document exceeded its size limit")
        selectedBytes += size
        if (selectedBytes > Limits.MaxFileTotalBytes)
          fail("Configured documents exceeded their size limit")
        seen += candidate
      }
    }

    val directory: Option[Path] =
      if (!includeConfiguredDirectory) None
      else {
        // the scan base may narrow to a subdirectory, but the CONFIGURED
        // root stays the confinement boundary: real-path containment is
        // checked, so neither `..` nor a symlinked dir can escape it
        val scanBase: Path = directoryWithinRoot.map(_.trim) match {
          case None => root
          case Some(r) =>
            if (r.isEmpty || r.length > 4096 || r.contains('\u0000') ||
                r.contains("://"))
              fail("Document directory must resolve inside the configured root")
            val candidate =
              try {
                val p = Paths.get(r)
                (if (p.isAbsolute) p else root.resolve(r)).toRealPath()
              } catch {
                case _: Exception => fail("Document directory was not found")
              }
            if (!candidate.startsWith(root) || !Files.isDirectory(candidate))
              fail("Document directory must resolve inside the configured root")
            candidate
        }
        var total = 0L
        var count = 0
        // closed on every exit, the size-limit failures included
        val walk = Files.walk(scanBase)
        try walk.iterator().asScala.foreach { p =>
          if (Files.isSymbolicLink(p))
            fail("Configured document root contains a symbolic link")
          if (Files.isRegularFile(p, LinkOption.NOFOLLOW_LINKS)) {
            count += 1
            if (count > Limits.MaxFiles)
              fail("Configured document root contains too many files")
            val size = Files.size(p)
            if (size > Limits.MaxFileBytes)
              fail("Configured document exceeded its size limit")
            total += size
            if (total > Limits.MaxFileTotalBytes)
              fail("Configured document root exceeded its size limit")
          }
        }
        finally walk.close()
        Some(scanBase)
      }

    Resolved(directory, if (seen.isEmpty) None else Some(seen.toSeq))
  }

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)
}
