package medbench

import java.io.BufferedWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

/** Seeded synthetic Pima-Indians corpus in the reference's CSV layout
  * (the 9-column header of `diabetes.csv`, integers as integers, BMI
  * with one decimal, pedigree with three).
  *
  * Sources. The figures come from the public 768-row Pima Indians
  * Diabetes file (Smith et al., "Using the ADAP learning algorithm to
  * forecast the onset of diabetes mellitus", Proc. SCAMC 1988, 261–265;
  * distributed by the UCI Machine Learning Repository), as summarized in
  * the repo's FIXTURES.md and in the file's widely reproduced column
  * statistics:
  *  - zero (missing) codes: Glucose 5, BloodPressure 35, SkinThickness
  *    227, Insulin 374, BMI 11 of 768 rows (FIXTURES.md), i.e. 0.65%,
  *    4.6%, 29.6%, 48.7%, 1.4% — so every median-imputation branch of
  *    silver fires;
  *  - Outcome 268 of 768 positive, 34.9% (FIXTURES.md);
  *  - truncation bounds are the file's non-zero minima and maxima:
  *    pedigree 0.078–2.42 and Age 21–81 (FIXTURES.md); Glucose 44–199,
  *    BloodPressure 24–122, SkinThickness 7–99, Insulin 14–846, BMI
  *    18.2–67.1 and Pregnancies 0–17 (the column statistics);
  *  - centres: non-zero medians Glucose 117, BloodPressure 72,
  *    SkinThickness 29, Insulin 125 (FIXTURES.md); per-outcome means of
  *    the non-zero values Glucose ≈110 / ≈141 and BMI ≈30.9 / ≈35.4;
  *    pedigree median ≈0.37; Pregnancies mean ≈3.8; Age mean ≈33.2.
  *
  * Assumed, not taken from a source: the distribution shapes and
  * spreads fitted to those figures — normal (SD 29, 12, 10.5, 6.6) for
  * Glucose, BloodPressure, SkinThickness and BMI; log-normal (σ 0.6)
  * for Insulin and the pedigree; exponential for Pregnancies (mean 3.8)
  * and for Age above 21 (mean 11.5, matching the file's mean ≈ SD ≈ 12);
  * all truncated by redrawing — and the Outcome rate rising linearly
  * with age (20% at 21, +1.2 points a year, clamped to 5–85%), which
  * gives ≈35% overall and older positives as in the file. Age is also
  * 0-coded at 0.1% (the real file has none), so silver's `valid_age`
  * expectation has failures to count.
  *
  * Shard `i` of seed `s` is a pure function of (s, i): a run can land
  * shard 17 without generating shards 0–16. */
object Corpus {

  val header = "Pregnancies,Glucose,BloodPressure,SkinThickness,Insulin,BMI,DiabetesPedigreeFunction,Age,Outcome"

  /** What the program must report back for a set of shards. */
  final case class Counts(rows: Long, cases: Long, invalidAge: Long) {
    def +(o: Counts): Counts = Counts(rows + o.rows, cases + o.cases, invalidAge + o.invalidAge)
  }
  object Counts { val zero: Counts = Counts(0, 0, 0) }

  /** A 64-bit finalizer (SplitMix64's): nearby inputs give unrelated
    * outputs. Seeding SplittableRandom with a linear function of the seed
    * would give streams that are shifts of one another. */
  def mix64(z0: Long): Long = {
    var z = (z0 ^ (z0 >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Generator for stream `stream` of seed `seed`. */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(mix64(mix64(seed) + stream))

  private def clamp(x: Double, lo: Double, hi: Double): Double = math.max(lo, math.min(hi, x))

  private def gauss(r: SplittableRandom): Double = {
    // Box–Muller; SplittableRandom has no nextGaussian.
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Normal(mean, sd) truncated to [lo, hi] by redrawing, so the bounds
    * carry no spike of clamped values (a spike would give whole groups a
    * constant column, which the real data never has). */
  private def truncNormal(r: SplittableRandom, mean: Double, sd: Double, lo: Double, hi: Double): Double = {
    var x = mean + sd * gauss(r)
    while (x < lo || x > hi) x = mean + sd * gauss(r)
    x
  }

  /** Exponential(mean) truncated to [0, hi) by redrawing. */
  private def truncExp(r: SplittableRandom, mean: Double, hi: Double): Double = {
    var x = -mean * math.log(1.0 - r.nextDouble())
    while (x >= hi) x = -mean * math.log(1.0 - r.nextDouble())
    x
  }

  private def zeroOr(r: SplittableRandom, rate: Double, v: => Long): Long =
    if (r.nextDouble() < rate) 0L else v

  private def decimal(v: Long, places: Int): String =
    if (v == 0) "0"
    else {
      val p = math.pow(10, places).toLong
      s"${v / p}.${(v % p).toString.reverse.padTo(places, '0').reverse}"
    }

  /** Write one shard of `rows` rows to `out`; returns its counts. */
  def writeShard(out: Path, seed: Long, shard: Int, rows: Int): Counts = {
    val r = rng(seed, shard)
    var cases, invalidAge = 0L
    val w: BufferedWriter = Files.newBufferedWriter(out, StandardCharsets.UTF_8)
    try {
      w.write(header); w.write('\n')
      var i = 0
      while (i < rows) {
        val age0 = 21 + truncExp(r, 11.5, 61).toLong
        val pPos = clamp(0.20 + 0.012 * (age0 - 21), 0.05, 0.85)
        val outcome = if (r.nextDouble() < pPos) 1 else 0
        val preg = truncExp(r, 3.8, 18).toLong
        val glucose = zeroOr(r, 0.0065,
          math.round(truncNormal(r, if (outcome == 1) 141.0 else 110.0, 29.0, 44, 199)))
        val bp = zeroOr(r, 0.046, math.round(truncNormal(r, 72.0, 12.0, 24, 122)))
        val skin = zeroOr(r, 0.296, math.round(truncNormal(r, 29.0, 10.5, 7, 99)))
        val insulin = zeroOr(r, 0.487,
          math.round(math.exp(truncNormal(r, math.log(125.0), 0.6, math.log(14), math.log(846)))))
        val bmiTenths = zeroOr(r, 0.014,
          math.round(10 * truncNormal(r, if (outcome == 1) 35.4 else 30.9, 6.6, 18.2, 67.1)))
        val dpfMilli = math.round(1000 * math.exp(truncNormal(r, math.log(0.37), 0.6, math.log(0.078), math.log(2.42))))
        val age = if (r.nextDouble() < 0.001) 0L else age0
        if (outcome == 1) cases += 1
        if (age <= 0 || age >= 120) invalidAge += 1
        w.write(s"$preg,$glucose,$bp,$skin,$insulin,${decimal(bmiTenths, 1)},${decimal(dpfMilli, 3)},$age,$outcome\n")
        i += 1
      }
    } finally w.close()
    Counts(rows, cases, invalidAge)
  }

  def shardName(shard: Int): String = f"diabetes_part_$shard%04d.csv"

  /** Land shard `shard` in `dir` atomically: written under `staging`,
    * then renamed in, so a directory scan never sees a partial file. */
  def land(dir: Path, staging: Path, seed: Long, shard: Int, rows: Int): Counts = {
    Files.createDirectories(dir); Files.createDirectories(staging)
    val tmp = staging.resolve(shardName(shard) + ".tmp")
    val c = writeShard(tmp, seed, shard, rows)
    Files.move(tmp, dir.resolve(shardName(shard)), StandardCopyOption.ATOMIC_MOVE)
    c
  }
}
