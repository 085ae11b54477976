package graft

package object sources {
  /** The warc source's scan by name, for driving the connector directly. */
  type WarcScan = FileScan[Option[String]]
}
