package graft.ice

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ice.manifest.ManifestAvro

/** The one mapping from a path as Spark reports it to the path as
  * manifests and delete files record it. Spark's `_metadata.file_path`
  * and `input_file_name()` are percent-encoded URIs (`file:/w%20h/x`),
  * while manifests hold plain paths (`/w h/x`): stripping only the
  * scheme leaves `%20` in place, so a delete written from the encoded
  * form never matches its data file under a path with a space. */
object FilePaths {

  /** A Spark file URI as a plain path: `file` (or no) scheme decodes to
    * the bare path; other schemes keep scheme and authority with a
    * decoded path. A string that is not a URI only loses its `file:`
    * scheme, like a manifest path. */
  def fromSpark(raw: String): String =
    try {
      val u = new java.net.URI(raw)
      val path = u.getPath
      if (path == null) raw
      else if (u.getScheme == null || u.getScheme == "file") path
      else s"${u.getScheme}://${Option(u.getRawAuthority).getOrElse("")}$path"
    } catch { case _: java.net.URISyntaxException => ManifestAvro.stripFileScheme(raw) }

  /** Spark's percent-encoded form of a manifest path, scheme stripped:
    * what position-delete files and DVs written before Spark paths were
    * decoded store for it (`/w%20h/x` for `/w h/x`). */
  def legacyEncoded(path: String): String =
    try ManifestAvro.stripFileScheme(SparkPath.fromPathString(path).urlEncoded)
    catch { case _: IllegalArgumentException => path }

  /** Every form under which a delete may name the data file at `path`
    * (a manifest path without scheme): the path itself and, where it
    * differs, its [[legacyEncoded]] form. */
  def storedForms(path: String): Seq[String] = {
    val enc = legacyEncoded(path)
    if (enc == path) Seq(path) else Seq(path, enc)
  }

  /** [[fromSpark]] over a column, typically `_metadata.file_path`. */
  def column(c: Column): Column =
    GraftColumnBridge.column(NormalizedFilePath(GraftColumnBridge.expression(c), stored = false))

  /** `ManifestAvro.stripFileScheme` over a column of stored paths, such
    * as a position-delete file's `file_path`: the normalisation
    * `DeleteFileCache` keys delete rows by. */
  def storedColumn(c: Column): Column =
    GraftColumnBridge.column(NormalizedFilePath(GraftColumnBridge.expression(c), stored = true))
}

/** `graft_file_path(path)`: [[FilePaths.fromSpark]] as an expression, or
  * with `stored`, `graft_stored_path(path)`: `ManifestAvro.stripFileScheme`.
  * A scan's rows arrive file by file, so the last result is reused and
  * a row costs one byte comparison. */
final case class NormalizedFilePath(child: Expression, stored: Boolean) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = if (stored) "graft_stored_path" else "graft_file_path"

  @transient private[this] var lastRaw: UTF8String = _
  @transient private[this] var lastPath: UTF8String = _

  def decode(raw: UTF8String): UTF8String = {
    if (lastRaw == null || !lastRaw.equals(raw)) {
      val s = raw.toString
      lastPath = UTF8String.fromString(
        if (stored) ManifestAvro.stripFileScheme(s) else FilePaths.fromSpark(s))
      lastRaw = raw.clone()
    }
    lastPath
  }

  override protected def nullSafeEval(v: Any): Any = decode(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("filePath", this)
    defineCodeGen(ctx, ev, c => s"$self.decode($c)")
  }

  override protected def withNewChildInternal(c: Expression): NormalizedFilePath = copy(child = c)
}
