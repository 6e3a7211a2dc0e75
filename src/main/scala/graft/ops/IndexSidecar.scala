package graft.ops

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Shared `_graft_index.json` sidecar persistence for the persistable
  * indexes ([[IvfPqIndex]], [[MinHashIndex]], [[SimJoinIndex]], and the
  * stream maintainers of the last two): one writer and one
  * field-extraction parser instead of two hand-rolled copies drifting
  * apart. The parser accepts exactly what [[write]]rs emit (flat
  * builder-controlled JSON) — not general JSON.
  *
  * I/O goes through the Hadoop `FileSystem` API resolved from the path's
  * scheme, so the sidecar round-trips on any filesystem the DataFrame legs
  * can reach — local paths, `file://`, and object stores (`s3a://…`) alike.
  * The sidecar is driver-side model state, tiny (KBs), so one
  * create/open per index is the whole cost.
  */
private[graft] object IndexSidecar {

  val FileName = "_graft_index.json"

  def exists(conf: Configuration, path: String): Boolean = {
    val p = new Path(path, FileName)
    p.getFileSystem(conf).exists(p)
  }

  def write(conf: Configuration, path: String, json: String): Unit = {
    val p = new Path(path, FileName)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def readJson(conf: Configuration, path: String): String = {
    val p = new Path(path, FileName)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      StandardCharsets.UTF_8)
    finally in.close()
  }

  /** The raw substring after `"name":` — callers slice their typed value
    * off the front. Throws with the offending path on a missing field.
    */
  def field(json: String, name: String, path: String): String = {
    val i = json.indexOf("\"" + name + "\":")
    require(i >= 0, s"missing field $name in $path/$FileName")
    json.substring(i + name.length + 3)
  }

  /** Strict leading-int parse of a field value: optional '-', at least one
    * digit — a malformed or empty token fails with the field and path
    * named instead of a bare NumberFormatException (or a silently
    * mis-signed value).
    */
  def intField(json: String, name: String, path: String): Int = {
    val tok = field(json, name, path).dropWhile(_ == ' ')
    val neg = tok.startsWith("-")
    val digits = (if (neg) tok.drop(1) else tok).takeWhile(_.isDigit)
    require(digits.nonEmpty,
      s"malformed integer field $name in $path/$FileName")
    (if (neg) "-" + digits else digits).toInt
  }
}
