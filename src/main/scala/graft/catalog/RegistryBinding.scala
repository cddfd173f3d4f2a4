package graft.catalog

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.graftbridge.PlanBridge

/** A `tables: Map[name → path]` registry bound into the catalog route.
  *
  * `Snapshot.sql*` callers name snapshot tables through a per-call
  * registry map instead of catalog names. For the duration of one call
  * the map is the namespace `graft_registry.<call id>` of ONE
  * session-scoped [[RegistryCatalog]], so a bound name resolves through
  * the same [[GraftCatalog.pathFor]] / `GraftCatalogResolve.pathOf`
  * seam — and therefore the same analyzer rules, DML capture and
  * maintenance commands — as any catalog table. The catalog registers
  * once per session (the conf key that names its class is set only
  * while the catalog manager loads it); the binding itself is one map
  * entry, removed when the call returns or throws.
  */
object RegistryBinding {

  val CatalogName = "graft_registry"

  private val calls = new ConcurrentHashMap[String, Map[String, String]]()
  private val callIds = new AtomicLong()

  /** Run `f` with `tables` bound; `f` receives the namespace prefix
    * (catalog, call id) a bound name is qualified with.
    */
  def withBinding[T](spark: SparkSession, tables: Map[String, String])(
      f: Seq[String] => T): T = {
    register(spark)
    val ns = s"call${callIds.incrementAndGet()}"
    calls.put(ns, tables)
    try f(Seq(CatalogName, ns)) finally calls.remove(ns)
  }

  /** Calls whose binding is live right now. */
  private[graft] def activeBindings: Int = calls.size

  /** A bound name's snapshot path; an unbound one refuses with the
    * registry's own message.
    */
  private[catalog] def pathFor(ident: Identifier): String = {
    val tables = Option(ident.namespace).filter(_.length == 1)
      .flatMap(ns => Option(calls.get(ns.head))).getOrElse(
        throw new IllegalArgumentException(
          s"$CatalogName: no active registry binding for ${ident.namespace.mkString(".")}"))
    tables.collectFirst { case (k, p) if k.equalsIgnoreCase(ident.name) => p }.getOrElse(
      throw new IllegalArgumentException(
        s"Snapshot.sql: unknown table '${ident.name}' " +
          s"(registered: ${tables.keys.toSeq.sorted.mkString(", ")})"))
  }

  private def register(spark: SparkSession): Unit = {
    val cm = spark.sessionState.catalogManager
    PlanBridge.withActive(spark) {
      if (!cm.isCatalogRegistered(CatalogName)) synchronized {
        if (!cm.isCatalogRegistered(CatalogName)) {
          val key = s"spark.sql.catalog.$CatalogName"
          val conf = spark.sessionState.conf
          conf.setConfString(key, classOf[RegistryCatalog].getName)
          try cm.catalog(CatalogName) finally conf.unsetConf(key)
        }
      }
    }
  }
}

/** The session's registry-binding catalog: a [[GraftCatalog]] whose
  * tables are the names bound by [[RegistryBinding.withBinding]].
  */
class RegistryCatalog extends GraftCatalog {
  override private[graft] def pathFor(ident: Identifier): String =
    RegistryBinding.pathFor(ident)
}
