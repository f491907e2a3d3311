package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-expression library for the GitHub-event semantics of the
  * reference (SURVEY.md §2.3/§2.8) — pure `Column` functions, no UDFs,
  * all inside whole-stage codegen.
  *
  * The reference has TWO DIFFERENT bot predicates (F1 ≠ F2) — both are
  * kept, matching `insert-events.js:42` (ingest path) and
  * `update-contributor-scores.js:45-68` (batch path) respectively.
  */
object GhFunctions {

  /** F1 — ingest-path bot filter (`insert-events.js:42,49-52`):
    * SKIP only when a login is present AND matches the bot pattern
    * (contains literal `[bot]` or ends in `-bot`), case-SENSITIVE.
    * Rows with a null/absent login are KEPT — the reference's guard
    * `event.actor && event.actor.login && botPattern.test(...)` falls
    * through to the insert when the login is missing, so null-login
    * events DO land in the bronze stream. (They are still excluded
    * from scoring downstream, where F2 treats null as a bot.) */
  def keepIngest(login: Column): Column =
    login.isNull || !login.rlike("""(\[bot\]|-bot$)""")

  /** F2 — batch-path bot heuristic (`update-contributor-scores.js:45-68`):
    * TRUE if the login looks like a bot. Null logins count as bots
    * (the reference's `!login` guard). Lowercased before testing; the
    * single regex folds the reference's 15 predicates (`endsWith "bot"`
    * subsumes `endsWith "-bot"`). */
  def isBotBatch(login: Column): Column =
    login.isNull || lower(login).rlike(
      "(\\[bot\\]|bot$|^aws|copilot|renovate|greenkeeper|snyk|security|" +
        "automation|deploy|ci-|-ci|build|release)")

  /** F2 as the literal 15-predicate decomposition — used only by the
    * property test proving the folded regex equivalent. */
  def isBotBatchUnfolded(login: Column): Column = {
    val l = lower(login)
    val subs = Seq("copilot", "renovate", "greenkeeper", "snyk", "security",
      "automation", "deploy", "ci-", "-ci", "build", "release")
    login.isNull ||
      l.contains("[bot]") || l.endsWith("-bot") || l.endsWith("bot") ||
      l.startsWith("aws") ||
      subs.map(sub => l.contains(sub)).reduce(_ || _)
  }

  /** F3 — scoring event types (`update-contributor-scores.js:124`). */
  def isScoringType(eventType: Column): Column =
    eventType.isin("PushEvent", "PullRequestEvent")

  /** C1 — the reference's UTC hour key `{YYYY-MM-DD}:{H}`
    * (`update-contributor-scores.js:28-30`; hour is NOT zero-padded). */
  def hourKey(ts: Column): Column =
    concat(date_format(ts, "yyyy-MM-dd"), lit(":"),
           hour(ts).cast("string"))

  /** C1 — daily summary key `{YYYY-MM-DD}:sum`
    * (`update-contributor-scores.js:246`). */
  def dayKey(ts: Column): Column =
    concat(date_format(ts, "yyyy-MM-dd"), lit(":sum"))
}
