package perfbench

import java.time.{DayOfWeek, LocalDate}

import graft.runner.AmtRegistry

/** Size of one generated school year: the workloads differ in schools and
  * students; the rest is the same for all. Every count is per year. */
final case class Scale(schools: Int, studentsPerSchool: Int) {
  val staffPerSchool = 8
  val coursesPerSchool = 6
  val sectionsPerOffering = 2
  /** share of enrolled student-days that carry a school attendance event;
    * section (homeroom) events use the same share */
  val attendanceShare = 0.2
  val candidates = 12
}

/** JSON text built directly: silver is byte-level input, so the generator
  * writes it the way the ODS serves it instead of going through a library. */
object Js {
  final case class Raw(s: String)

  private def quote(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b += '"'
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def enc(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => d.toString
    case xs: Seq[_] => xs.map(enc).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"not JSON: $other")
  }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => quote(k) + ":" + enc(v) }.mkString("{", ",", "}"))
}

/** Seeded, key-consistent Ed-Fi silver for one school year: every endpoint
  * any AMT view reads gets rows, and every reference (natural key or
  * `link.href` id) points at a row that exists. Values come from a hash of
  * (seed, year, entity, index), so one entity's attributes agree across all
  * endpoints that mention it and do not depend on generation order.
  *
  * Dates: the school year runs from August of `year - 1` to May of `year`;
  * open-ended rows carry a null end date or the far-future `FarFuture`, so
  * the views' `current_date` filters select the same rows on any day before
  * that date. */
final class SilverGen(val seed: Long, val year: Int, val scale: Scale) {
  import Js._

  val FarFuture = "2099-06-30"

  // ---- deterministic randomness -------------------------------------------
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def h(parts: Any*): Long =
    parts.foldLeft(mix(seed * 31 + year))((acc, p) => mix(acc ^ p.hashCode.toLong))
  private def u(parts: Any*): Double = (h(parts: _*) >>> 11).toDouble / (1L << 53)
  private def pick[T](xs: Seq[T], parts: Any*): T =
    xs((java.lang.Long.remainderUnsigned(h(parts: _*), xs.size.toLong)).toInt)

  // ---- descriptors ----------------------------------------------------------
  private val ns = "uri://ed-fi.org/"
  private def uri(descriptor: String, code: String) = s"$ns$descriptor#$code"

  /** (endpoint, descriptor name, code values) */
  private val descriptorSets: Seq[(String, String, Seq[String])] = Seq(
    ("gradingPeriodDescriptors", "GradingPeriodDescriptor",
      Seq("First Quarter", "Second Quarter", "Third Quarter", "Fourth Quarter")),
    ("termDescriptors", "TermDescriptor", Seq("Fall Semester", "Spring Semester")),
    ("raceDescriptors", "RaceDescriptor",
      Seq("White", "Black - African American", "Asian", "American Indian - Alaska Native")),
    ("sexDescriptors", "SexDescriptor", Seq("Female", "Male")),
    ("cohortTypeDescriptors", "CohortTypeDescriptor",
      Seq("Academic Intervention", "Classroom Pullout")),
    ("cohortYearTypeDescriptors", "CohortYearTypeDescriptor", Seq("Ninth grade", "Tenth grade")),
    ("disabilityDesignationDescriptors", "DisabilityDesignationDescriptor",
      Seq("Individuals with Disabilities Education Act", "Section 504")),
    ("languageUseDescriptors", "LanguageUseDescriptor", Seq("Home language", "Native language")),
    ("disabilityDescriptors", "DisabilityDescriptor", Seq("Autism", "Speech or Language Impairment")),
    ("languageDescriptors", "LanguageDescriptor", Seq("English", "Spanish")),
    ("studentCharacteristicDescriptors", "StudentCharacteristicDescriptor",
      Seq("Economic Disadvantaged", "Homeless")),
    ("tribalAffiliationDescriptors", "TribalAffiliationDescriptor", Seq("Navajo", "Cherokee")),
    ("aidTypeDescriptors", "AidTypeDescriptor", Seq("Pell Grant", "Scholarship")),
    ("performanceLevelDescriptors", "PerformanceLevelDescriptor",
      Seq("Advanced", "Proficient", "Below Basic")),
    ("assessmentCategoryDescriptors", "AssessmentCategoryDescriptor",
      Seq("State summative assessment", "Benchmark test")),
    ("gradeLevelDescriptors", "GradeLevelDescriptor",
      Seq("Ninth grade", "Tenth grade", "Eleventh grade", "Twelfth grade")),
    ("assessmentReportingMethodDescriptors", "AssessmentReportingMethodDescriptor",
      Seq("Scale score", "Raw score")),
    ("resultDatatypeTypeDescriptors", "ResultDatatypeTypeDescriptor", Seq("Integer", "Decimal")),
    ("disciplineDescriptors", "DisciplineDescriptor",
      Seq("In School Suspension", "Out of School Suspension")),
    ("programTypeDescriptors", "ProgramTypeDescriptor", Seq("Bilingual", "Special Education")),
    ("schoolFoodServiceProgramServiceDescriptors", "SchoolFoodServiceProgramServiceDescriptor",
      Seq("Free Breakfast", "Free Lunch")),
    ("educationalEnvironmentDescriptors", "EducationalEnvironmentDescriptor",
      Seq("Classroom", "Homebound")),
    ("academicSubjectDescriptors", "AcademicSubjectDescriptor",
      Seq("Mathematics", "English Language Arts", "Science", "Social Studies")))

  private val codes: Map[String, (String, Seq[String])] =
    descriptorSets.map { case (ep, d, cs) => ep -> (d, cs) }.toMap
  private def d(ep: String, i: Int): String = {
    val (name, cs) = codes(ep); uri(name, cs(i % cs.size))
  }
  private def dPick(ep: String, parts: Any*): String = {
    val (name, cs) = codes(ep); uri(name, pick(cs, parts: _*))
  }

  /** A descriptor row; the narrow descriptor CDC wave lands new ones. */
  def descriptorRow(ep: String, id: Int, code: String): Raw = {
    val (name, _) = codes(ep)
    val idField = ep.stripSuffix("s") + "Id"
    obj(idField -> id.toLong, "codeValue" -> code, "description" -> s"$code description",
      "namespace" -> s"$ns$name", "shortDescription" -> code)
  }

  // ---- calendar -------------------------------------------------------------
  private val first = LocalDate.of(year - 1, 8, 19)
  private val last = LocalDate.of(year, 5, 29)
  private val fallEnd = LocalDate.of(year - 1, 12, 19)
  private val springBegin = LocalDate.of(year, 1, 6)
  val schoolDays: IndexedSeq[LocalDate] =
    Iterator.iterate(first)(_.plusDays(1)).takeWhile(!_.isAfter(last))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY)
      .filter(d => d.isBefore(fallEnd.plusDays(1)) || !d.isBefore(springBegin))
      .toIndexedSeq
  private def isHoliday(day: LocalDate): Boolean = day.getDayOfYear % 23 == 0
  val instructionalDays: IndexedSeq[LocalDate] = schoolDays.filterNot(isHoliday)

  private val sessionsSpec = Seq(
    ("Fall", 0, first, fallEnd), ("Spring", 1, springBegin, last))
  /** four grading periods, two per session: (sequence, session index, begin, end) */
  private val gradingPeriodsSpec: Seq[(Int, Int, LocalDate, LocalDate)] = Seq(
    (1, 0, first, LocalDate.of(year - 1, 10, 17)),
    (2, 0, LocalDate.of(year - 1, 10, 20), fallEnd),
    (3, 1, springBegin, LocalDate.of(year, 3, 13)),
    (4, 1, LocalDate.of(year, 3, 16), last))

  // ---- entities -------------------------------------------------------------
  private val sea = 1L
  private val esc = 10L
  private val leas = Seq(100L, 101L)
  val schoolIds: IndexedSeq[Long] = (0 until scale.schools).map(i => 1000L + i)
  private def leaOf(school: Int): Long = leas(school % leas.size)
  /** the last school is also an educator preparation provider */
  private val eppSchool = schoolIds.last

  val nStudents: Int = scale.schools * scale.studentsPerSchool
  def studentId(i: Int): String = s"S${100000 + i}"
  private def studentRes(i: Int) = s"stu-$i"
  def schoolOf(student: Int): Int = student / scale.studentsPerSchool
  /** withdrawn students leave during the fall and are not currently enrolled */
  def exitDate(student: Int): Option[LocalDate] =
    if (u("exit", student) < 0.08)
      Some(schoolDays(40 + (h("exitDay", student) % 40).abs.toInt))
    else None
  def entryDate(student: Int): LocalDate =
    if (u("late", student) < 0.1) schoolDays(5 + (h("entryDay", student) % 20).abs.toInt)
    else first
  private def gradeLevelIdx(student: Int): Int = (h("grade", student) % 4).abs.toInt

  private def staffId(school: Int, k: Int) = s"T${school}x$k"
  private def staffRes(school: Int, k: Int) = s"stf-$school-$k"
  private def courseCode(c: Int) = s"CRS-$c"
  private def sectionIdent(c: Int, sess: Int, k: Int) = s"SEC-$c-$sess-$k"
  private def sectionRes(school: Int, c: Int, sess: Int, k: Int) = s"sec-$school-$c-$sess-$k"
  private def offeringRes(school: Int, c: Int, sess: Int) = s"off-$school-$c-$sess"
  private def sessionRes(school: Int, sess: Int) = s"ses-$school-$sess"
  private def gpRes(school: Int, seq: Int) = s"gp-$school-$seq"
  private def link(kind: String, id: String) =
    obj("rel" -> kind, "href" -> s"/ed-fi/$kind/$id")
  private def tpdmLink(kind: String, id: String) =
    obj("rel" -> kind, "href" -> s"/tpdm/$kind/$id")

  private def sessionName(sess: Int) = s"$year ${sessionsSpec(sess)._1}"
  /** a student takes every course once, in one session and section */
  private def enrolledSection(student: Int, c: Int): (Int, Int) =
    ((h("sess", student, c) % 2).abs.toInt,
      (h("sec", student, c) % scale.sectionsPerOffering).abs.toInt)
  private def sectionRef(school: Int, c: Int, sess: Int, k: Int) = obj(
    "localCourseCode" -> courseCode(c), "schoolId" -> schoolIds(school),
    "schoolYear" -> year.toLong, "sectionIdentifier" -> sectionIdent(c, sess, k),
    "sessionName" -> sessionName(sess), "link" -> link("sections", sectionRes(school, c, sess, k)))
  private def teacherOf(school: Int, c: Int, sess: Int, k: Int): Int =
    (c * 2 + sess + k) % scale.staffPerSchool

  private def studentsOf(school: Int): Range =
    (school * scale.studentsPerSchool) until ((school + 1) * scale.studentsPerSchool)

  // ---- endpoint rows ----------------------------------------------------------
  private def descriptors: Map[String, Seq[Raw]] = descriptorSets.map { case (ep, _, cs) =>
    ep -> cs.zipWithIndex.map { case (c, i) => descriptorRow(ep, i + 1, c) }
  }.toMap

  private def orgs: Map[String, Seq[Raw]] = Map(
    "stateEducationAgencies" -> Seq(obj("id" -> "sea-1", "stateEducationAgencyId" -> sea,
      "nameOfInstitution" -> "State Department of Education")),
    "educationServiceCenters" -> Seq(obj("id" -> "esc-10", "educationServiceCenterId" -> esc,
      "nameOfInstitution" -> "Region 10 Service Center",
      "stateEducationAgencyReference" -> obj("stateEducationAgencyId" -> sea))),
    "localEducationAgencies" -> leas.map(l => obj("id" -> s"lea-$l",
      "localEducationAgencyId" -> l, "nameOfInstitution" -> s"District $l",
      "localEducationAgencyCategoryDescriptor" ->
        uri("LocalEducationAgencyCategoryDescriptor", "Independent"),
      "charterStatusDescriptor" -> uri("CharterStatusDescriptor", "Not a Charter District"),
      "educationServiceCenterReference" -> obj("educationServiceCenterId" -> esc,
        "link" -> link("educationServiceCenters", "esc-10")),
      "stateEducationAgencyReference" -> obj("stateEducationAgencyId" -> sea,
        "link" -> link("stateEducationAgencies", "sea-1")))),
    "schools" -> schoolIds.indices.map { s =>
      val cats = Seq(obj("educationOrganizationCategoryDescriptor" ->
        uri("EducationOrganizationCategoryDescriptor", "School"))) ++
        (if (schoolIds(s) == eppSchool) Seq(obj("educationOrganizationCategoryDescriptor" ->
          uri("EducationOrganizationCategoryDescriptor", "Educator Preparation Provider")))
        else Nil)
      obj("schoolId" -> schoolIds(s), "nameOfInstitution" -> s"School ${schoolIds(s)}",
        "schoolTypeDescriptor" -> uri("SchoolTypeDescriptor", "Regular"),
        "localEducationAgencyReference" -> obj("localEducationAgencyId" -> leaOf(s)),
        "addresses" -> Seq(
          obj("addressTypeDescriptor" -> uri("AddressTypeDescriptor", "Physical"),
            "stateAbbreviationDescriptor" -> uri("StateAbbreviationDescriptor", "TX"),
            "streetNumberName" -> s"${100 + s} Main St", "city" -> "Austin",
            "nameOfCounty" -> "Travis", "postalCode" -> "78701"),
          obj("addressTypeDescriptor" -> uri("AddressTypeDescriptor", "Mailing"),
            "stateAbbreviationDescriptor" -> uri("StateAbbreviationDescriptor", "TX"),
            "streetNumberName" -> s"PO Box ${s + 1}", "city" -> "Austin",
            "nameOfCounty" -> "Travis", "postalCode" -> "78702")),
        "gradeLevels" -> Seq(obj("gradeLevelDescriptor" -> d("gradeLevelDescriptors", 0))),
        "educationOrganizationCategories" -> cats)
    },
    "feederSchoolAssociations" -> (1 until scale.schools).map(s => obj(
      "feederSchoolReference" -> obj("schoolId" -> schoolIds(s - 1)),
      "schoolReference" -> obj("schoolId" -> schoolIds(s)),
      "beginDate" -> first.toString, "endDate" -> null)),
    "schoolYearTypes" -> Seq(
      obj("schoolYear" -> year.toLong, "currentSchoolYear" -> true,
        "schoolYearDescription" -> s"${year - 1}-$year"),
      obj("schoolYear" -> (year - 1).toLong, "currentSchoolYear" -> false,
        "schoolYearDescription" -> s"${year - 2}-${year - 1}")))

  private def calendar: Map[String, Seq[Raw]] = {
    val gps = for (s <- schoolIds.indices; (seq, _, b, e) <- gradingPeriodsSpec) yield obj(
      "id" -> gpRes(s, seq), "schoolReference" -> obj("schoolId" -> schoolIds(s)),
      "schoolYearTypeReference" -> obj("schoolYear" -> year.toLong),
      "gradingPeriodDescriptor" -> d("gradingPeriodDescriptors", seq - 1),
      "beginDate" -> b.toString, "endDate" -> e.toString,
      "totalInstructionalDays" -> instructionalDays.count(x => !x.isBefore(b) && !x.isAfter(e)).toLong,
      "periodSequence" -> seq.toLong)
    val sessions = for (s <- schoolIds.indices; (n, i, b, e) <- sessionsSpec) yield obj(
      "id" -> sessionRes(s, i), "sessionName" -> sessionName(i),
      "beginDate" -> b.toString, "endDate" -> e.toString,
      "termDescriptor" -> d("termDescriptors", i),
      "schoolReference" -> obj("schoolId" -> schoolIds(s)),
      "schoolYearTypeReference" -> obj("schoolYear" -> year.toLong),
      "gradingPeriods" -> gradingPeriodsSpec.filter(_._2 == i).map { case (seq, _, _, _) =>
        obj("gradingPeriodReference" -> obj("schoolId" -> schoolIds(s),
          "schoolYear" -> year.toLong,
          "gradingPeriodDescriptor" -> d("gradingPeriodDescriptors", seq - 1),
          "periodSequence" -> seq.toLong, "link" -> link("gradingPeriods", gpRes(s, seq))))
      })
    val dates = for (s <- schoolIds.indices; day <- schoolDays) yield obj(
      "date" -> day.toString,
      "calendarReference" -> obj("schoolId" -> schoolIds(s), "schoolYear" -> year.toLong,
        "calendarCode" -> s"CAL-${schoolIds(s)}"),
      "calendarEvents" -> Seq(obj("calendarEventDescriptor" -> uri("CalendarEventDescriptor",
        if (isHoliday(day)) "Holiday" else "Instructional day"))))
    Map("gradingPeriods" -> gps, "sessions" -> sessions, "calendarDates" -> dates)
  }

  private def courses: Map[String, Seq[Raw]] = {
    val cs = for (s <- schoolIds.indices; c <- 0 until scale.coursesPerSchool) yield obj(
      "id" -> s"crs-$s-$c", "courseCode" -> courseCode(c), "courseTitle" -> s"Course $c",
      "academicSubjectDescriptor" -> d("academicSubjectDescriptors", c),
      "educationOrganizationReference" -> obj("educationOrganizationId" -> schoolIds(s)))
    val offerings = for (s <- schoolIds.indices; c <- 0 until scale.coursesPerSchool;
        sess <- 0 to 1) yield obj(
      "id" -> offeringRes(s, c, sess),
      "courseReference" -> obj("courseCode" -> courseCode(c), "link" -> link("courses", s"crs-$s-$c")),
      "sessionReference" -> obj("sessionName" -> sessionName(sess),
        "link" -> link("sessions", sessionRes(s, sess))),
      "schoolReference" -> obj("schoolId" -> schoolIds(s), "link" -> link("schools", s"sch-$s")))
    val sections = for (s <- schoolIds.indices; c <- 0 until scale.coursesPerSchool;
        sess <- 0 to 1; k <- 0 until scale.sectionsPerOffering) yield obj(
      "id" -> sectionRes(s, c, sess, k),
      "courseOfferingReference" -> obj("localCourseCode" -> courseCode(c),
        "schoolId" -> schoolIds(s), "schoolYear" -> year.toLong,
        "sessionName" -> sessionName(sess), "link" -> link("courseOfferings", offeringRes(s, c, sess))),
      "sectionIdentifier" -> sectionIdent(c, sess, k), "sectionName" -> s"Section $c-$sess-$k",
      "educationalEnvironmentDescriptor" -> d("educationalEnvironmentDescriptors", k),
      "classPeriods" -> Seq(obj("classPeriodReference" -> obj("classPeriodName" -> s"Period ${c + 1}"))))
    Map("courses" -> cs, "courseOfferings" -> offerings, "sections" -> sections)
  }

  private def staff: Map[String, Seq[Raw]] = {
    val staffs = for (s <- schoolIds.indices; k <- 0 until scale.staffPerSchool) yield obj(
      "id" -> staffRes(s, k), "staffUniqueId" -> staffId(s, k),
      "personalTitlePrefix" -> (if (k % 2 == 0) "Ms" else "Mr"),
      "firstName" -> s"Staff$k", "middleName" -> null, "lastSurname" -> s"Teacher$s",
      "birthDate" -> s"19${70 + k % 20}-0${1 + k % 9}-1${k % 9}",
      "sexDescriptor" -> d("sexDescriptors", k),
      "hispanicLatinoEthnicity" -> (k % 3 == 0),
      "highestCompletedLevelOfEducationDescriptor" ->
        uri("LevelOfEducationDescriptor", if (k % 2 == 0) "Master's" else "Bachelor's"),
      "yearsOfPriorProfessionalExperience" -> (k % 12).toDouble,
      "yearsOfPriorTeachingExperience" -> (k % 9).toDouble,
      "highlyQualifiedTeacher" -> (k % 4 != 0),
      "loginId" -> s"${staffId(s, k).toLowerCase}",
      "races" -> Seq(obj("raceDescriptor" -> d("raceDescriptors", k))),
      "electronicMails" -> Seq(obj("electronicMailAddress" -> s"${staffId(s, k)}@district.edu",
        "electronicMailTypeDescriptor" -> uri("ElectronicMailTypeDescriptor", "Work"))))
    val ssa = for (s <- schoolIds.indices; c <- 0 until scale.coursesPerSchool; sess <- 0 to 1;
        k <- 0 until scale.sectionsPerOffering) yield {
      val t = teacherOf(s, c, sess, k)
      obj("id" -> s"ssa-$s-$c-$sess-$k",
        "staffReference" -> obj("staffUniqueId" -> staffId(s, t), "link" -> link("staffs", staffRes(s, t))),
        "sectionReference" -> sectionRef(s, c, sess, k),
        "beginDate" -> sessionsSpec(sess)._3.toString, "endDate" -> FarFuture,
        "classroomPositionDescriptor" -> uri("ClassroomPositionDescriptor", "Teacher of Record"))
    }
    // one principal per school, the rest teachers; one superintendent per LEA
    val assignments = (for (s <- schoolIds.indices; k <- 0 until scale.staffPerSchool) yield obj(
      "staffReference" -> obj("staffUniqueId" -> staffId(s, k), "link" -> link("staffs", staffRes(s, k))),
      "educationOrganizationReference" -> obj("educationOrganizationId" -> schoolIds(s),
        "link" -> link("schools", s"sch-$s")),
      "staffClassificationDescriptor" ->
        uri("StaffClassificationDescriptor", if (k == 0) "Principal" else "Teacher"),
      "beginDate" -> first.toString, "endDate" -> null)) ++
      leas.zipWithIndex.map { case (l, i) => obj(
        "staffReference" -> obj("staffUniqueId" -> staffId(i, 1), "link" -> link("staffs", staffRes(i, 1))),
        "educationOrganizationReference" -> obj("educationOrganizationId" -> l,
          "link" -> link("localEducationAgencies", s"lea-$l")),
        "staffClassificationDescriptor" -> uri("StaffClassificationDescriptor", "Superintendent"),
        "beginDate" -> first.toString, "endDate" -> null)
      }
    Map("staffs" -> staffs, "staffSectionAssociations" -> ssa,
      "staffEducationOrganizationAssignmentAssociations" -> assignments)
  }

  /** students linked to a person record share it with the candidate of the
    * same index (EPP views join candidates to students through people) */
  private def personOfStudent(i: Int): Option[Int] =
    if (i < scale.candidates) Some(i) else None
  private def personId(p: Int) = s"P$p"
  private def personRes(p: Int) = s"ppl-$p"

  def studentRow(i: Int): Raw = obj(
    "id" -> studentRes(i), "studentUniqueId" -> studentId(i),
    "firstName" -> s"First$i", "lastSurname" -> s"Last${i % 97}",
    "middleName" -> (if (i % 3 == 0) s"M$i" else null),
    "birthDate" -> LocalDate.of(year - 16, 1, 1).plusDays(h("birth", i).abs % 1400).toString,
    "personReference" -> personOfStudent(i).map(p =>
      obj("personId" -> personId(p), "link" -> link("people", personRes(p)))).orNull)

  def enrollmentRow(i: Int, entry: LocalDate, exit: Option[LocalDate]): Raw = obj(
    "id" -> s"ssch-$i-$entry",
    "schoolReference" -> obj("schoolId" -> schoolIds(schoolOf(i))),
    "schoolYearTypeReference" -> obj("schoolYear" -> year.toLong),
    "calendarReference" -> obj("calendarCode" -> s"CAL-${schoolIds(schoolOf(i))}"),
    "studentReference" -> obj("studentUniqueId" -> studentId(i)),
    "entryDate" -> entry.toString, "exitWithdrawDate" -> exit.map(_.toString).orNull,
    "entryGradeLevelDescriptor" -> d("gradeLevelDescriptors", gradeLevelIdx(i)))

  private def edOrgRow(i: Int, edOrg: Long, level: String): Raw = obj(
    "id" -> s"seoa-$level-$i",
    "educationOrganizationReference" -> obj("educationOrganizationId" -> edOrg),
    "studentReference" -> obj("studentUniqueId" -> studentId(i)),
    "limitedEnglishProficiencyDescriptor" ->
      (if (u("lep", i) < 0.2) uri("LimitedEnglishProficiencyDescriptor", "Limited") else null),
    "hispanicLatinoEthnicity" -> (u("hisp", i) < 0.3),
    "sexDescriptor" -> dPick("sexDescriptors", "sex", i),
    "races" -> Seq(obj("raceDescriptor" -> dPick("raceDescriptors", "race", i))),
    "studentCharacteristics" -> (if (u("char", i) < 0.4) Seq(obj(
      "studentCharacteristicDescriptor" -> dPick("studentCharacteristicDescriptors", "chr", i),
      "periods" -> Seq(obj("beginDate" -> first.toString, "endDate" -> null)))) else Nil),
    "cohortYears" -> Seq(obj("cohortYearTypeDescriptor" -> dPick("cohortYearTypeDescriptors", "cy", i),
      "schoolYearTypeReference" -> obj("schoolYear" -> year.toLong))),
    "languages" -> Seq(obj("languageDescriptor" -> dPick("languageDescriptors", "lang", i),
      "uses" -> Seq(obj("languageUseDescriptor" -> dPick("languageUseDescriptors", "use", i))))),
    "disabilities" -> (if (u("dis", i) < 0.12) Seq(obj(
      "disabilityDescriptor" -> dPick("disabilityDescriptors", "disd", i),
      "designations" -> Seq(obj("disabilityDesignationDescriptor" ->
        dPick("disabilityDesignationDescriptors", "desg", i))))) else Nil),
    "tribalAffiliations" -> (if (u("trib", i) < 0.05) Seq(obj(
      "tribalAffiliationDescriptor" -> dPick("tribalAffiliationDescriptors", "tr", i))) else Nil),
    "studentIndicators" -> Seq(
      obj("indicatorName" -> "Internet Access In Residence",
        "indicator" -> (if (u("net", i) < 0.85) "Yes" else "No"), "indicatorGroup" -> "Digital"),
      obj("indicatorName" -> "Digital Device",
        "indicator" -> pick(Seq("Laptop", "Tablet", "None"), "dev", i), "indicatorGroup" -> "Digital")))

  private def students: Map[String, Seq[Raw]] = {
    val all = 0 until nStudents
    Map(
      "students" -> all.map(studentRow),
      "studentSchoolAssociations" -> all.map(i => enrollmentRow(i, entryDate(i), exitDate(i))),
      "studentEducationOrganizationAssociations" -> all.flatMap(i => Seq(
        edOrgRow(i, schoolIds(schoolOf(i)), "S"), edOrgRow(i, leaOf(schoolOf(i)), "D"))))
  }

  /** Attendance events for one student on one day; `wave` > 0 marks a CDC
    * correction landed later (a new event id and category). */
  def schoolAttendanceRow(i: Int, day: LocalDate, wave: Int = 0): Raw = obj(
    "id" -> s"ssae-$i-$day-$wave",
    "schoolReference" -> obj("schoolId" -> schoolIds(schoolOf(i))),
    "studentReference" -> obj("studentUniqueId" -> studentId(i)),
    "sessionReference" -> obj("schoolYear" -> year.toLong),
    "eventDate" -> day.toString,
    "attendanceEventCategoryDescriptor" -> uri("AttendanceEventCategoryDescriptor",
      pick(Seq("In Attendance", "Tardy", "Excused Absence", "Unexcused Absence"), "cat", i, day, wave)))

  def sectionAttendanceRow(i: Int, day: LocalDate, wave: Int = 0): Raw = {
    val school = schoolOf(i)
    val sess = if (day.isBefore(springBegin)) 0 else 1
    // homeroom: the student's section of course 0 when it runs this session,
    // otherwise the section of course 1 (always a different session)
    val c = if (enrolledSection(i, 0)._1 == sess) 0 else 1
    val (s2, k) = enrolledSection(i, c)
    obj("schoolReference" -> obj("schoolId" -> schoolIds(school)),
      "sectionReference" -> sectionRef(school, c, s2, k),
      "studentReference" -> obj("studentUniqueId" -> studentId(i)),
      "eventDate" -> day.toString,
      "attendanceEventCategoryDescriptor" -> uri("AttendanceEventCategoryDescriptor",
        pick(Seq("In Attendance", "Tardy", "Excused Absence", "Unexcused Absence"),
          "scat", i, day, wave)),
      "educationalEnvironmentDescriptor" -> d("educationalEnvironmentDescriptors", 0))
  }

  /** instructional days on which a student is enrolled */
  def enrolledDays(i: Int): IndexedSeq[LocalDate] = {
    val in = entryDate(i); val out = exitDate(i)
    instructionalDays.filter(day => !day.isBefore(in) && out.forall(o => !day.isAfter(o)))
  }

  private def attendance: Map[String, Seq[Raw]] = {
    val school = Seq.newBuilder[Raw]; val section = Seq.newBuilder[Raw]
    for (i <- 0 until nStudents; day <- enrolledDays(i)) {
      if (u("att", i, day) < scale.attendanceShare) school += schoolAttendanceRow(i, day)
      if (u("satt", i, day) < scale.attendanceShare) section += sectionAttendanceRow(i, day)
    }
    Map("studentSchoolAttendanceEvents" -> school.result(),
      "studentSectionAttendanceEvents" -> section.result())
  }

  private def ssaRow(i: Int, c: Int): Raw = {
    val school = schoolOf(i); val (sess, k) = enrolledSection(i, c)
    obj("sectionReference" -> sectionRef(school, c, sess, k),
      "studentReference" -> obj("studentUniqueId" -> studentId(i), "link" -> link("students", studentRes(i))),
      "beginDate" -> sessionsSpec(sess)._3.toString, "endDate" -> sessionsSpec(sess)._4.toString,
      "homeroomIndicator" -> (c == 0 || (c == 1 && enrolledSection(i, 0)._1 != sess)))
  }

  def gradeRow(i: Int, c: Int, seq: Int, wave: Int = 0): Raw = {
    val school = schoolOf(i); val (sess, k) = enrolledSection(i, c)
    val letter = pick(Seq("A", "B", "C", "D", "F"), "letter", i, c, seq, wave)
    // a zero numeric grade is filled from the letter by the view
    val numeric = if (u("num0", i, c, seq, wave) < 0.1) 0.0
      else 55.0 + (h("num", i, c, seq, wave) % 45).abs.toDouble
    obj("gradingPeriodReference" -> obj("gradingPeriodDescriptor" -> d("gradingPeriodDescriptors", seq - 1),
        "periodSequence" -> seq.toLong, "schoolId" -> schoolIds(school), "schoolYear" -> year.toLong),
      "studentSectionAssociationReference" -> obj("studentUniqueId" -> studentId(i),
        "schoolId" -> schoolIds(school), "beginDate" -> sessionsSpec(sess)._3.toString,
        "localCourseCode" -> courseCode(c), "schoolYear" -> year.toLong,
        "sectionIdentifier" -> sectionIdent(c, sess, k), "sessionName" -> sessionName(sess)),
      "gradeTypeDescriptor" -> uri("GradeTypeDescriptor",
        if (seq % 2 == 0 && wave == 0) "Semester" else "Grading Period"),
      "numericGradeEarned" -> numeric, "letterGradeEarned" -> letter)
  }
  /** grading-period sequences of the session a student takes course `c` in */
  def gradedPeriods(i: Int, c: Int): Seq[Int] = {
    val sess = enrolledSection(i, c)._1
    gradingPeriodsSpec.filter(_._2 == sess).map(_._1)
  }

  private def sectionsAndGrades: Map[String, Seq[Raw]] = {
    val pairs = for (i <- 0 until nStudents; c <- 0 until scale.coursesPerSchool) yield (i, c)
    Map(
      "studentSectionAssociations" -> pairs.map { case (i, c) => ssaRow(i, c) },
      "grades" -> pairs.flatMap { case (i, c) => gradedPeriods(i, c).map(gradeRow(i, c, _)) })
  }

  private def discipline: Map[String, Seq[Raw]] = {
    val incidents = for (s <- schoolIds.indices; n <- 0 until math.max(1, scale.studentsPerSchool / 10))
      yield (s, n, instructionalDays((h("inc", s, n) % instructionalDays.size).abs.toInt))
    def involved(s: Int, n: Int): Int = studentsOf(s)((h("who", s, n) % scale.studentsPerSchool).abs.toInt)
    Map(
      "disciplineIncidents" -> incidents.map { case (s, n, day) => obj(
        "schoolReference" -> obj("schoolId" -> schoolIds(s)),
        "incidentIdentifier" -> s"INC-$s-$n", "incidentDate" -> day.toString) },
      "studentDisciplineIncidentBehaviorAssociations" -> incidents.map { case (s, n, _) => obj(
        "disciplineIncidentReference" -> obj("incidentIdentifier" -> s"INC-$s-$n", "schoolId" -> schoolIds(s)),
        "studentReference" -> obj("studentUniqueId" -> studentId(involved(s, n))),
        "behaviorDescriptor" -> uri("BehaviorDescriptor",
          if (n % 3 == 0) "State Offense" else "School Code of Conduct")) },
      "disciplineActions" -> incidents.map { case (s, n, day) => obj(
        "disciplineActionIdentifier" -> s"DA-$s-$n", "disciplineDate" -> day.toString,
        "studentReference" -> obj("studentUniqueId" -> studentId(involved(s, n))),
        "disciplines" -> Seq(obj("disciplineDescriptor" -> d("disciplineDescriptors", n))),
        "staffs" -> Seq(obj("staffReference" -> obj("staffUniqueId" -> staffId(s, 0),
          "link" -> link("staffs", staffRes(s, 0)))))) })
  }

  private def programs: Map[String, Seq[Raw]] = {
    val progs = for (l <- leas; p <- 0 to 1) yield (l, p)
    def progName(p: Int) = if (p == 0) "Bilingual Program" else "Special Education Program"
    def progRef(l: Long, p: Int, withLink: Boolean) = {
      val base = Seq("programName" -> progName(p),
        "programTypeDescriptor" -> d("programTypeDescriptors", p), "educationOrganizationId" -> l)
      obj((if (withLink) base :+ ("link" -> link("programs", s"prg-$l-$p")) else base): _*)
    }
    val lea = (i: Int) => leaOf(schoolOf(i))
    Map(
      "programs" -> progs.map { case (l, p) => obj("id" -> s"prg-$l-$p", "programName" -> progName(p),
        "programTypeDescriptor" -> d("programTypeDescriptors", p),
        "educationOrganizationReference" -> obj("educationOrganizationId" -> l)) },
      "studentProgramAssociations" -> (0 until nStudents).filter(i => u("prog", i) < 0.2).map { i =>
        val p = (h("pp", i) % 2).abs.toInt
        obj("studentReference" -> obj("studentUniqueId" -> studentId(i)),
          "beginDate" -> entryDate(i).toString, "endDate" -> null,
          "programReference" -> progRef(lea(i), p, withLink = true),
          "educationOrganizationReference" -> obj("educationOrganizationId" -> lea(i)))
      },
      "studentSchoolFoodServiceProgramAssociations" ->
        (0 until nStudents).filter(i => u("food", i) < 0.3).map { i => obj(
          "studentReference" -> obj("studentUniqueId" -> studentId(i)),
          "programReference" -> obj("programName" -> "Food Service",
            "programTypeDescriptor" -> d("programTypeDescriptors", 0), "educationOrganizationId" -> lea(i)),
          "educationOrganizationReference" -> obj("educationOrganizationId" -> schoolIds(schoolOf(i))),
          "beginDate" -> entryDate(i).toString,
          "schoolFoodServiceProgramServices" -> Seq(obj("schoolFoodServiceProgramServiceDescriptor" ->
            dPick("schoolFoodServiceProgramServiceDescriptors", "svc", i)))) },
      "cohorts" -> schoolIds.indices.map(s => obj("id" -> s"coh-$s", "cohortIdentifier" -> s"COH-$s",
        "cohortDescription" -> s"Intervention cohort $s", "cohortTypeDescriptor" -> d("cohortTypeDescriptors", s),
        "educationOrganizationReference" -> obj("educationOrganizationId" -> schoolIds(s),
          "link" -> link("schools", s"sch-$s")),
        "programs" -> Seq(obj("programReference" -> progRef(leaOf(s), s % 2, withLink = true))))),
      "studentCohortAssociations" -> (0 until nStudents).filter(i => u("coh", i) < 0.1).map { i =>
        val s = schoolOf(i)
        obj("id" -> s"sca-$i", "beginDate" -> entryDate(i).toString, "endDate" -> null,
          "cohortReference" -> obj("cohortIdentifier" -> s"COH-$s", "educationOrganizationId" -> schoolIds(s),
            "link" -> link("cohorts", s"coh-$s")),
          "studentReference" -> obj("studentUniqueId" -> studentId(i), "link" -> link("students", studentRes(i))))
      })
  }

  private def parents: Map[String, Seq[Raw]] = {
    val withParent = (0 until nStudents).filter(i => u("par", i) < 0.8)
    def addr(kind: String, i: Int, periods: Boolean) = obj(
      "addressTypeDescriptor" -> uri("AddressTypeDescriptor", kind), "city" -> "Austin",
      "postalCode" -> f"${78700 + i % 50}%05d",
      "stateAbbreviationDescriptor" -> uri("StateAbbreviationDescriptor", "TX"),
      "streetNumberName" -> s"${i % 900 + 1} Oak St", "nameOfCounty" -> "Travis",
      "apartmentRoomSuiteNumber" -> (if (i % 4 == 0) s"Apt ${i % 30}" else null),
      "periods" -> (if (periods) Seq(obj("beginDate" -> "2015-01-01", "endDate" -> null)) else Nil))
    Map(
      "parents" -> withParent.map(i => obj("id" -> s"par-$i", "parentUniqueId" -> s"G$i",
        "firstName" -> s"Parent$i", "lastSurname" -> s"Last${i % 97}",
        "addresses" -> Seq(addr("Home", i, periods = true), addr("Mailing", i, periods = false)),
        "telephones" -> Seq(
          obj("telephoneNumber" -> f"512-555-${i % 10000}%04d",
            "telephoneNumberTypeDescriptor" -> uri("TelephoneNumberTypeDescriptor", "Home")),
          obj("telephoneNumber" -> f"512-556-${i % 10000}%04d",
            "telephoneNumberTypeDescriptor" -> uri("TelephoneNumberTypeDescriptor", "Mobile"))),
        "electronicMails" -> Seq(
          obj("electronicMailAddress" -> s"g$i@mail.example",
            "electronicMailTypeDescriptor" -> uri("ElectronicMailTypeDescriptor", "Home/Personal"),
            "primaryEmailAddressIndicator" -> true),
          obj("electronicMailAddress" -> s"g$i@work.example",
            "electronicMailTypeDescriptor" -> uri("ElectronicMailTypeDescriptor", "Work"),
            "primaryEmailAddressIndicator" -> false)))),
      "studentParentAssociations" -> withParent.map(i => obj("id" -> s"spa-$i",
        "parentReference" -> obj("parentUniqueId" -> s"G$i", "link" -> link("parents", s"par-$i")),
        "studentReference" -> obj("studentUniqueId" -> studentId(i), "link" -> link("students", studentRes(i))),
        "primaryContactStatus" -> true, "livesWith" -> (u("lives", i) < 0.9),
        "emergencyContactStatus" -> (i % 2 == 0), "contactPriority" -> 1L,
        "contactRestrictions" -> (if (i % 25 == 0) "No pickup" else null),
        "relationDescriptor" -> uri("RelationDescriptor", if (i % 2 == 0) "Mother" else "Father"))))
  }

  private def assessments: Map[String, Seq[Raw]] = {
    val n = 3
    def aId(a: Int) = s"ASMT-$a"
    val aNs = s"${ns}Assessment"
    def score(a: Int) = obj(
      "assessmentReportingMethodDescriptor" -> d("assessmentReportingMethodDescriptors", a),
      "maximumScore" -> "100", "minimumScore" -> "0",
      "resultDatatypeTypeDescriptor" -> d("resultDatatypeTypeDescriptors", a))
    def result(i: Int, a: Int, what: String) = obj(
      "assessmentReportingMethodDescriptor" -> d("assessmentReportingMethodDescriptors", a),
      "result" -> (h(what, i, a) % 100).abs.toString,
      "resultDatatypeTypeDescriptor" -> d("resultDatatypeTypeDescriptors", a))
    def level(i: Int, a: Int, what: String) = obj(
      "assessmentReportingMethodDescriptor" -> d("assessmentReportingMethodDescriptors", a),
      "performanceLevelDescriptor" -> dPick("performanceLevelDescriptors", what, i, a),
      "performanceLevelMet" -> true)
    val taken = for (i <- 0 until nStudents; a <- 0 until n if u("takes", i, a) < 0.5) yield (i, a)
    Map(
      "assessments" -> (0 until n).map(a => obj("assessmentIdentifier" -> aId(a), "namespace" -> aNs,
        "assessmentCategoryDescriptor" -> d("assessmentCategoryDescriptors", a),
        "assessmentTitle" -> s"Assessment $a", "assessmentVersion" -> year.toLong,
        "assessedGradeLevels" -> Seq(obj("gradeLevelDescriptor" -> d("gradeLevelDescriptors", a))),
        "scores" -> Seq(score(a)),
        "academicSubjects" -> Seq(obj("academicSubjectDescriptor" -> d("academicSubjectDescriptors", a))))),
      "objectiveAssessments" -> (for (a <- 0 until n; o <- 0 to 1) yield obj(
        "assessmentReference" -> obj("assessmentIdentifier" -> aId(a), "namespace" -> aNs),
        "identificationCode" -> s"OBJ-$a-$o",
        "parentObjectiveAssessmentReference" -> (if (o == 0) null else obj(
          "assessmentIdentifier" -> aId(a), "identificationCode" -> s"OBJ-$a-0", "namespace" -> aNs)),
        "description" -> s"Objective $o of assessment $a", "percentOfAssessment" -> 0.5,
        "scores" -> Seq(score(a)),
        "learningStandards" -> Seq(obj("learningStandardReference" -> obj(
          "learningStandardId" -> s"LS-$a-$o", "link" -> link("learningStandards", s"ls-$a-$o")))))),
      "studentAssessments" -> taken.map { case (i, a) => obj(
        "id" -> s"sa-$i-$a", "studentAssessmentIdentifier" -> s"SA-$i-$a",
        "administrationDate" -> instructionalDays(100 + a * 10).toString,
        "assessmentReference" -> obj("assessmentIdentifier" -> aId(a), "namespace" -> aNs),
        "studentReference" -> obj("studentUniqueId" -> studentId(i)),
        "whenAssessedGradeLevelDescriptor" -> d("gradeLevelDescriptors", gradeLevelIdx(i)),
        "scoreResults" -> Seq(result(i, a, "sr")),
        "performanceLevels" -> Seq(level(i, a, "pl")),
        "studentObjectiveAssessments" -> (0 to 1).map(o => obj(
          "objectiveAssessmentReference" -> obj("identificationCode" -> s"OBJ-$a-$o"),
          "scoreResults" -> Seq(result(i, a * 10 + o, "osr")),
          "performanceLevels" -> Seq(level(i, a * 10 + o, "opl"))))) })
  }

  private def tpdm: Map[String, Seq[Raw]] = {
    val cands = 0 until scale.candidates
    def candId(c: Int) = s"C$c"
    val surveys = 0 to 1
    val questions = 0 to 2
    def respRes(c: Int, sv: Int) = s"sr-$c-$sv"
    Map(
      "candidates" -> cands.map(c => obj("candidateIdentifier" -> candId(c),
        "firstName" -> s"Cand$c", "lastSurname" -> s"Idate$c",
        "sexDescriptor" -> d("sexDescriptors", c), "hispanicLatinoEthnicity" -> (c % 3 == 0),
        "economicDisadvantaged" -> (c % 4 == 0),
        "races" -> Seq(obj("raceDescriptor" -> d("raceDescriptors", c))),
        "personReference" -> obj("personId" -> personId(c), "link" -> link("people", personRes(c))))),
      "people" -> cands.map(c => obj("id" -> personRes(c), "personId" -> personId(c))),
      "credentials" -> cands.filter(_ % 2 == 0).map(c => obj("id" -> s"cred-$c",
        "credentialIdentifier" -> s"CRED-$c", "issuanceDate" -> s"${year - 1}-07-0${1 + c % 9}",
        "_ext" -> obj("tpdm" -> obj("personReference" -> obj("personId" -> personId(c),
          "link" -> link("people", personRes(c))))))),
      "candidateEducatorPreparationProgramAssociations" -> cands.map(c => obj(
        "id" -> s"cepp-$c", "beginDate" -> s"${year - 2}-08-15",
        "reasonExitedDescriptor" -> (if (c % 2 == 0) uri("ReasonExitedDescriptor", "Completed") else null),
        "candidateReference" -> obj("candidateIdentifier" -> candId(c), "link" -> tpdmLink("candidates", s"cand-$c")),
        "educatorPreparationProgramReference" -> obj("programName" -> "Teacher Prep",
          "educationOrganizationId" -> eppSchool, "link" -> tpdmLink("educatorPreparationPrograms", "epp-1")),
        "cohortYears" -> Seq(obj("cohortYearTypeDescriptor" -> d("cohortYearTypeDescriptors", c),
          "schoolYearTypeReference" -> obj("schoolYear" -> year.toLong))))),
      "surveys" -> surveys.map(sv => obj("id" -> s"svy-$sv", "surveyIdentifier" -> s"SURVEY-$sv",
        "surveyTitle" -> s"Candidate survey $sv")),
      "surveyQuestions" -> (for (sv <- surveys; q <- questions) yield obj("id" -> s"sq-$sv-$q",
        "questionCode" -> s"Q$q", "questionText" -> s"Question $q of survey $sv",
        "surveySectionReference" -> obj("surveyIdentifier" -> s"SURVEY-$sv", "surveySectionTitle" -> "General"),
        "surveyReference" -> obj("surveyIdentifier" -> s"SURVEY-$sv", "link" -> link("surveys", s"svy-$sv")))),
      "surveyResponses" -> (for (c <- cands; sv <- surveys) yield obj("id" -> respRes(c, sv),
        "responseDate" -> instructionalDays(60 + c % 30).toString,
        "surveyResponseIdentifier" -> s"R-$c-$sv",
        "surveyReference" -> obj("surveyIdentifier" -> s"SURVEY-$sv", "link" -> link("surveys", s"svy-$sv")),
        "studentReference" -> null)),
      "surveyQuestionResponses" -> (for (c <- cands; sv <- surveys; q <- questions) yield obj(
        "id" -> s"sqr-$c-$sv-$q",
        "surveyQuestionReference" -> obj("questionCode" -> s"Q$q", "surveyIdentifier" -> s"SURVEY-$sv",
          "link" -> link("surveyQuestions", s"sq-$sv-$q")),
        "surveyResponseReference" -> obj("surveyResponseIdentifier" -> s"R-$c-$sv",
          "link" -> link("surveyResponses", respRes(c, sv))),
        "surveyQuestionMatrixElementResponses" -> Seq(obj(
          "numericResponse" -> ((h("resp", c, sv, q) % 5).abs + 1), "textResponse" -> s"answer $q")))),
      "surveyResponsePersonTargetAssociations" -> (for (c <- cands; sv <- surveys) yield obj(
        "surveyResponseReference" -> obj("surveyResponseIdentifier" -> s"R-$c-$sv",
          "link" -> link("surveyResponses", respRes(c, sv))),
        "personReference" -> obj("personId" -> personId(c), "link" -> link("people", personRes(c))))),
      "evaluationObjectives" -> (0 to 1).map(o => obj("id" -> s"eo-$o",
        "evaluationObjectiveTitle" -> s"Objective $o")),
      "evaluationElementRatings" -> (for (c <- cands; o <- 0 to 1) yield obj("id" -> s"eer-$c-$o",
        "evaluationObjectiveRatingReference" -> obj("personId" -> personId(c),
          "evaluationDate" -> s"${instructionalDays(80 + o)}T00:00:00", "evaluationObjectiveTitle" -> s"Objective $o"),
        "evaluationElementReference" -> obj("performanceEvaluationTitle" -> "Observation",
          "evaluationElementTitle" -> s"Element $o", "termDescriptor" -> d("termDescriptors", o),
          "schoolYear" -> year.toLong, "evaluationTitle" -> "Formal evaluation"),
        "results" -> Seq(obj("ratingResultTitle" -> "Score",
          "rating" -> (1 + (h("rate", c, o) % 4).abs).toDouble)))),
      "financialAids" -> cands.map(c => obj("beginDate" -> s"${year - 1}-08-01",
        "endDate" -> (if (c % 2 == 0) s"$year-05-31" else null),
        "aidConditionDescription" -> "Need based", "aidTypeDescriptor" -> d("aidTypeDescriptors", c),
        "aidAmount" -> (1000 + 250 * c).toDouble, "pellGrantRecipient" -> (c % 2 == 0),
        "studentReference" -> obj("studentUniqueId" -> studentId(c), "link" -> link("students", studentRes(c))))))
  }

  /** Every endpoint the registered views read, computed from the registry at
    * run time so a new view's endpoint cannot go silently empty. */
  val endpoints: Seq[String] = AmtRegistry.all.flatMap(_.endpointDeps).distinct.sorted

  /** endpoint -> JSON rows; fails when a consumed endpoint has no rows */
  def generate(): Map[String, Seq[Raw]] = {
    val all = descriptors ++ orgs ++ calendar ++ courses ++ staff ++ students ++ attendance ++
      sectionsAndGrades ++ discipline ++ programs ++ parents ++ assessments ++ tpdm
    val empty = endpoints.filter(e => all.get(e).forall(_.isEmpty))
    require(empty.isEmpty, s"generator has no rows for: ${empty.mkString(", ")}")
    all.filter { case (e, _) => endpoints.contains(e) }
  }
}
