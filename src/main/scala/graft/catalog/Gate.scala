package graft.catalog

/** One declared query: its name, its Spark builder and the oracle its
  * result must equal. A gate with no oracle is a bench-only twin: Bench
  * times it, the correctness gate never sees it. */
final case class Gate(name: String, build: Build, oracle: Option[Oracle])

object Gate {
  def apply(name: String, build: Build, oracle: Oracle): Gate =
    Gate(name, build, Some(oracle))

  /** A bench-only twin: no DuckDB twin of it is possible. */
  def apply(name: String, build: Build): Gate = Gate(name, build, None)
}

sealed trait Oracle

/** DuckDB SQL over the same fixture tables. */
final case class Sql(text: String) extends Oracle

/** The [[Sql]] of `gate`: two execution paths held to one answer. */
final case class SameAs(gate: Gate) extends Oracle

/** Every gate of every family, assembled once and checked as it is
  * built, so a broken catalog fails the first reader. */
object Catalog {

  lazy val gates: Seq[Gate] = check(
    RelationalGates.gates ++ CurationGates.gates ++ TextGates.gates ++
      DedupGates.gates ++ EmbeddingGates.gates ++ CorpusGates.gates ++
      MediaGates.gates ++ StreamGates.gates)

  /** `gates` itself, once its names are unique and every [[SameAs]]
    * points at a gate of `gates` that declares its own [[Sql]]; throws
    * naming the offending gate otherwise. A null target is a gate read
    * before its declaring object finished initialising. */
  def check(gates: Seq[Gate]): Seq[Gate] = {
    val byName = gates.groupBy(_.name)
    for ((name, gs) <- byName if gs.size > 1)
      throw new IllegalArgumentException(s"gate $name is declared ${gs.size} times")
    for (g <- gates; SameAs(target) <- g.oracle) {
      if (target == null || !byName.get(target.name).exists(_.head eq target))
        throw new IllegalArgumentException(s"gate ${g.name}: SameAs(" +
          s"${Option(target).fold("null")(_.name)}) is not a gate of this catalog")
      if (!target.oracle.exists(_.isInstanceOf[Sql]))
        throw new IllegalArgumentException(s"gate ${g.name}: SameAs(${target.name}) " +
          "points at a gate without its own Sql")
    }
    gates
  }

  /** The oracle text of a checked gate, if it has an oracle. */
  def sql(gate: Gate): Option[String] = gate.oracle.map {
    case Sql(text)      => text
    case SameAs(target) => sql(target).get
  }
}
