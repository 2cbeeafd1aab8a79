package graft.ops

/** Where an LSH operator's operating point comes from.
  *
  *  - [[Fixed]]: the given point. The registry queries run their fixed
  *    point; it is their oracle contract, and it costs no extra job.
  *  - [[FromCorpus]]: count the input once and size the point from the
  *    corpus through the family's resolver ([[Dedup.minhashOperatingPoint]]
  *    or [[Similarity.lshOperatingPoint]], at their defaults), so neither
  *    recall nor candidate mass degrades as n grows. The corpus-scale form.
  *
  * `P` is the family's point: [[MinHashBands]] or [[Hyperplanes]].
  */
sealed trait OperatingPoint[+P]

final case class Fixed[+P](point: P) extends OperatingPoint[P]

case object FromCorpus extends OperatingPoint[Nothing]

/** MinHash-LSH: `k` minhashes per doc in `bands` bands of k/bands rows. */
final case class MinHashBands(k: Int, bands: Int)

/** Sign-hyperplane LSH: `tables` tables of `planes` sign bits each. */
final case class Hyperplanes(planes: Int, tables: Int)
