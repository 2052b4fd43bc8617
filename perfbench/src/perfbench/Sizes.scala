package perfbench

/** Input sizes per workload. `full` is what the benchmark measures;
  * `smoke` is the self-test size, small enough to run every workload in
  * a few seconds. Only counts live here: which row or image each count
  * lands on is drawn from the seed, so every seed yields the same volume
  * and the same skew profile, with different content. */
final case class Sizes(
    // history_daily: the reference's 7,241 accounts with a scaled-down
    // post rate (see README), posts over more than the 60-day window
    accounts: Int,
    postDays: Int,
    postsPerDay: Int,
    statsDays: Int,
    rePutShare: Double,
    // history_daily's weekly palette step: Zipf(2) image counts per owner
    paletteUsers: Int,
    paletteImages: Int,
    imageW: Int,
    imageH: Int,
    // stream_serve: one JSON object per post version under posts/<owner>/
    // (80 files at full size), replayed in micro-batches of
    // maxFilesPerTrigger files (20 per replay), then queriesPerCycle
    // queries over a search index of searchPosts posts
    streamOwners: Int,
    streamPosts: Int,
    maxFilesPerTrigger: Int,
    searchPosts: Int,
    queries: Int,
    queriesPerCycle: Int)

object Sizes {
  val full: Sizes = Sizes(
    accounts = 7241, postDays = 75, postsPerDay = 150, statsDays = 6, rePutShare = 0.2,
    paletteUsers = 40, paletteImages = 160, imageW = 96, imageH = 72,
    streamOwners = 40, streamPosts = 66, maxFilesPerTrigger = 4,
    searchPosts = 3000, queries = 400, queriesPerCycle = 42)

  val smoke: Sizes = Sizes(
    accounts = 60, postDays = 70, postsPerDay = 6, statsDays = 5, rePutShare = 0.2,
    paletteUsers = 4, paletteImages = 10, imageW = 32, imageH = 24,
    streamOwners = 4, streamPosts = 12, maxFilesPerTrigger = 4,
    searchPosts = 80, queries = 24, queriesPerCycle = 8)

  def apply(name: String): Sizes = name match {
    case "full"  => full
    case "smoke" => smoke
    case other   => throw new IllegalArgumentException(s"unknown size: $other")
  }

  /** The rollup window of the reference DAG (get_elastic_data.py). */
  val WindowDays = 60
}
