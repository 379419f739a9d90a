package graftbench

/** Generator and schedule parameters of every workload — the one place
  * they are set (README.md lists them with the reasons). */
object Params {
  // curate corpus: documents and embeddings at the sizes of the sf0.1
  // test tables; lineitem at the sf0.01 size, since at sf0.1 (600 000
  // rows) a run no longer fits the time budget (README.md gives the
  // figures)
  val corpusDocs = 5000
  val corpusVecs = 2000
  val corpusLineitems = 60000
  val exactDupShare = 0.01
  val nearDupShare = 0.05

  // stream: open-loop release of pre-written event files
  val streamIntervalMs = 250L      // one file every 250 ms
  val streamEventsPerFile = 50     // → 200 events/s
  val streamNewKeyShare = 0.4
  val streamWarmFiles = 2          // released one trigger at a time in each set-up
  // stream capacity: after the open-loop window, backlogs of files are
  // released all at once; throughput is their events over the time to
  // process them
  val streamBacklogs = 9
  val streamBacklogFiles = 4
  val streamBacklogEventsPerFile = 500  // → 2 000 events per backlog

  // set-up repetitions per run (setup_s is their median)
  val setups = 3
}
