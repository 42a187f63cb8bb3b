package graft.sources

/** Reads a feed's records back the way an executor does: the packed
  * bytes of a range, walked by `GraftFeed.PackedReader`. */
object FeedRecords {
  /** Records [from, until) of feed `name` as `(tsUs, value, seq)`. */
  def apply(name: String, from: Long, until: Long): Seq[(Long, String, Long)] = {
    val r = new GraftFeed.PackedReader(GraftFeed.packedRange(name, from, until), null)
    Iterator.continually(r).takeWhile(_.next())
      .map { r => val row = r.get(); (row.getLong(0), row.getUTF8String(1).toString, row.getLong(2)) }
      .toSeq
  }
}
