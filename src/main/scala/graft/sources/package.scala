package graft

package object sources {
  /** The mseed scan's partitions are the shared segment partitions. */
  type MiniSeedInputPartition = SegmentInputPartition
}
