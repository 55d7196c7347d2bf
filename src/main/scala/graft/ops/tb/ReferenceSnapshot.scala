package graft.ops.tb

/** Where the reference project's committed data snapshot lives: the
  * raw WHO and World Bank CSVs the TB mains read by default, and the
  * processed golden outputs the parity specs compare against. */
object ReferenceSnapshot {
  val Dir = "/root/reference/data"
  val TbCsv = s"$Dir/raw/who_tb_data_20250923_041355.csv"
  val PopCsv = s"$Dir/raw/worldbank_population_20250923_041355.csv"

  def processed(name: String): String = s"$Dir/processed/$name"
}
