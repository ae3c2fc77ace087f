package perfbench

import java.nio.file.{Files, Path}

/** Seeded CDC waves landing on a built school year. A wave writes new
  * silver pages named `<endpoint>_<changeVersion>.json`, the reference's
  * delta naming: `EdFiClient.extractAll` names pages `<endpoint>_<page>.json`,
  * so a windowed pull into the same silver root would overwrite the base
  * pages (see README "Known gap"). */
object Waves {
  /** The wave schedule, repeated: five attendance, two grades, one
    * enrollment, one descriptor and one idle wave in every ten. The first
    * five waves hold one of each kind, so a run of five waves refreshes
    * every kind. The order is fixed so runs with different seeds refresh the
    * same kinds in the same order; the seed varies which students, days and
    * values a wave carries. */
  val Schedule: Seq[String] = Seq("attendance", "enrollment", "grades", "idle", "descriptor",
    "attendance", "attendance", "grades", "attendance", "attendance")

  def kind(n: Int): String = Schedule(n % Schedule.size)

  private def write(silverRoot: Path, year: String, endpoint: String, changeVersion: Long,
      rows: Seq[Js.Raw]): Unit = {
    val dir = silverRoot.resolve(year).resolve(endpoint)
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(s"${endpoint}_$changeVersion.json"), rows.map(_.s).mkString("[", ",", "]"))
  }

  /** Land wave `n` of kind `k`; returns the endpoints it changed. */
  def land(gen: SilverGen, k: String, n: Int, silverRoot: Path, year: String): Set[String] = {
    val cv = 1000000L + n
    val rnd = new scala.util.Random(scala.util.hashing.MurmurHash3.productHash((gen.seed, gen.year, n, k)))
    def sample(share: Double): Seq[Int] =
      (0 until gen.nStudents).filter(_ => rnd.nextDouble() < share)
    k match {
      case "attendance" =>
        // one day's late-arriving events for a slice of the students enrolled that day
        val day = gen.instructionalDays(rnd.nextInt(gen.instructionalDays.size))
        val who = sample(0.08).filter(gen.enrolledDays(_).contains(day))
        val students = if (who.nonEmpty) who else Seq(0)
        write(silverRoot, year, "studentSchoolAttendanceEvents", cv,
          students.map(gen.schoolAttendanceRow(_, day, n)))
        write(silverRoot, year, "studentSectionAttendanceEvents", cv,
          students.map(gen.sectionAttendanceRow(_, day, n)))
        Set("studentSchoolAttendanceEvents", "studentSectionAttendanceEvents")
      case "grades" =>
        val rows = for (i <- sample(0.05); c <- 0 until 2) yield gen.gradeRow(i, c, gen.gradedPeriods(i, c).last, n)
        write(silverRoot, year, "grades", cv,
          if (rows.nonEmpty) rows else Seq(gen.gradeRow(0, 0, gen.gradedPeriods(0, 0).last, n)))
        Set("grades")
      case "enrollment" =>
        // students re-enrolling after a withdrawal, plus late transfers-in
        val back = (0 until gen.nStudents).filter(gen.exitDate(_).isDefined).take(20)
        val rows = (back ++ sample(0.01)).distinct.map { i =>
          gen.enrollmentRow(i, gen.instructionalDays(gen.instructionalDays.size - 30 + n % 20), None)
        }
        write(silverRoot, year, "studentSchoolAssociations", cv, rows)
        Set("studentSchoolAssociations")
      case "descriptor" =>
        write(silverRoot, year, "raceDescriptors", cv,
          Seq(gen.descriptorRow("raceDescriptors", 100 + n, s"Race wave $n")))
        Set("raceDescriptors")
      case "idle" => Set.empty
    }
  }
}
