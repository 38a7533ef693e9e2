package graft

import graft.core.PackedRow

/** Packed change images for spec fixtures ([[PackedRow.render]]):
  * `img(1, None, 99)` is the image with cells `1`, NULL and `99` in
  * schema column order. A key-only image is the shorter cell list
  * `img(1)`: cells past its end decode as NULL. */
object PackedImage {
  def img(cells: Any*): String = PackedRow.render(cells.map {
    case None    => None
    case Some(v) => Some(v.toString)
    case v       => Some(v.toString)
  })
}
