package graft.core

/** Packed-text payload codec for the change-log envelope — the "skip the
  * JSON layer" path between the pgoutput decoder and the log (ROADMAP;
  * the reference ships raw typed cells through its pipeline without a
  * JSON detour, crates/etl/src/data/table_row.rs). A packed payload is
  *
  *   "=" + cell SEP cell SEP …          (cells in SCHEMA COLUMN ORDER,
  *                                       SEP = 0x1F unit separator)
  *
  * where each cell is the column's Postgres TEXT-FORM value with a
  * backslash escape set chosen so the rendered payload contains no raw
  * `\t`/`\n`/`\r` (the envelope line is tab-separated and
  * newline-framed) and no raw 0x1F (the cell separator):
  *
  *   \\ → backslash   \t \n \r → those chars   \u → 0x1F   \N → NULL cell
  *
  * Position-based instead of name-based: the consumer decodes against
  * the schema version the line's `_schema_lsn` selects, which descends
  * from the same Relation message that ordered the producer's cells.
  * Packed is the only data-image format the envelope decode
  * ([[graft.pipeline.CdcPipeline.jsonDecode]]) reads: a payload without
  * the leading '=' (a JSON image, say) fails [[parse]]. */
object PackedRow {
  val Marker = '='
  /** ASCII unit separator — never produced raw by the escape set. */
  val Sep: Char = 0x1f.toChar

  def render(cells: Seq[Option[String]]): String = {
    require(cells.nonEmpty, "packed row needs at least one cell")
    val sb = new StringBuilder(cells.length * 12)
    sb.append(Marker)
    var first = true
    cells.foreach { c =>
      if (!first) sb.append(Sep)
      first = false
      c match {
        case None => sb.append("\\N")
        case Some(v) =>
          var i = 0
          while (i < v.length) {
            val ch = v.charAt(i)
            if (ch == '\\') sb.append("\\\\")
            else if (ch == '\t') sb.append("\\t")
            else if (ch == '\n') sb.append("\\n")
            else if (ch == '\r') sb.append("\\r")
            else if (ch == Sep) sb.append("\\u")
            else sb.append(ch)
            i += 1
          }
      }
    }
    sb.toString
  }

  /** Inverse of [[render]]; expects the payload WITH its leading '='. */
  def parse(s: String): IndexedSeq[Option[String]] = {
    require(s.nonEmpty && s.charAt(0) == Marker,
      s"not a packed payload (JSON change images are no longer " +
        s"decoded): '${s.take(20)}'")
    val out = Vector.newBuilder[Option[String]]
    val cur = new StringBuilder
    var isNull = false
    var sawContent = false
    def flush(): Unit = {
      out += (if (isNull && cur.isEmpty) None else Some(cur.toString))
      cur.clear(); isNull = false; sawContent = false
    }
    var i = 1
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == Sep) flush()
      else if (ch == '\\') {
        require(i + 1 < s.length, "dangling escape in packed row")
        s.charAt(i + 1) match {
          case '\\' => cur.append('\\'); sawContent = true
          case 't'  => cur.append('\t'); sawContent = true
          case 'n'  => cur.append('\n'); sawContent = true
          case 'r'  => cur.append('\r'); sawContent = true
          case 'u'  => cur.append(Sep); sawContent = true
          case 'N'  =>
            if (!sawContent && cur.isEmpty) isNull = true
            else { cur.append('N'); sawContent = true }
          case c    => cur.append(c); sawContent = true
        }
        i += 1
      } else { cur.append(ch); sawContent = true }
      i += 1
    }
    flush()
    out.result()
  }
}
