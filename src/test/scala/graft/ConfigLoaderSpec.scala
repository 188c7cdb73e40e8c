package graft

import graft.ConfigLoader

/** Config parse / validate / merge (reference: config.go:41-77,
  * factory.go:69-82, sample-collector-config.yaml dialects). */
class ConfigLoaderSpec extends SparkTestBase {

  private val yamlNew =
    """asserts_processor:
      |  env: prod
      |  site: us-east-1
      |  default_latency_threshold: 0.5
      |  limit_per_service: 10
      |  limit_per_request_per_service: 7
      |  normal_sampling_frequency_minutes: 3
      |  ignore_client_errors: false
      |  span_attributes:
      |    - attr_name: request_context
      |      attr_configs:
      |        - namespace: platform
      |          service: api-server
      |          rules:
      |            - source_attributes: [url]
      |              span_kinds: [entry, exit]
      |              regex: "https?://.+?((/[^/?]+){1,3}).*"
      |        - rules:
      |            - source_attributes: [url]
      |              regex: "https?://.+?((/[^/?]+){1,2}).*"
      |              replacement: "$1"
      |""".stripMargin

  test("parses the span_attributes dialect with defaults") {
    val jc = ConfigLoader.fromYaml(yamlNew)
    assert(jc.pipeline.env == "prod")
    assert(jc.pipeline.limitPerService == 10)
    assert(jc.pipeline.topKPerRequest == 5) // min(5, 7) per service_queue.go:58
    assert(jc.pipeline.normalSamplingFrequencyMinutes == 3)
    assert(!jc.pipeline.ignoreClientErrors)
    val rules = jc.rules("request_context")
    assert(rules.size == 2)
    assert(rules.head.serviceKey == "platform#api-server")
    assert(rules.head.spanKinds == Seq("entry", "exit"))
    assert(rules(1).serviceKey == "default")
    assert(rules(1).spanKinds == Seq("entry")) // reference default
    assert(rules(1).replacement == "$1")
  }

  test("parses the legacy custom_attribute_configs dialect") {
    val yaml =
      """asserts_processor:
        |  custom_attribute_configs:
        |    error_type:
        |      default:
        |        - source_attributes: [status]
        |          regex: "^(4..)$"
        |          replacement: client_errors
        |""".stripMargin
    val jc = ConfigLoader.fromYaml(yaml)
    val r = jc.rules("error_type").head
    assert(r.serviceKey == "default" && r.replacement == "client_errors")
  }

  /** A RECONSTRUCTION of the reference's sample-collector-config.yaml,
    * not the file itself: see the header of the resource for what it is
    * rebuilt from. */
  private def sampleCollectorConfig: String = {
    val in = getClass.getResourceAsStream("/sample-collector-config.reconstructed.yaml")
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  test("loads a reconstructed sample-collector-config.yaml (value_expr/$$n dialect)") {
    val yaml = sampleCollectorConfig
    val jc = ConfigLoader.fromYaml(yaml)
    // reference mapstructure field names (config.go:18-37)
    assert(jc.pipeline.env == "dev" && jc.pipeline.site == "dev")
    assert(jc.pipeline.captureMetrics)
    assert(jc.pipeline.captureAttributesInMetric ==
      Seq("rpc.system", "rpc.service", "rpc.method", "aws.table.name", "aws.queue.url"))
    // value_expr is the replacement key (custom_attribute.go:14): the
    // error-type rules must compile to client_errors/server_errors, NOT "$1"
    val errRules = jc.rules("asserts.error.type")
    assert(errRules.map(_.replacement) == Seq("client_errors", "server_errors"))
    assert(errRules.head.regex == "4..")
    // span kinds normalized to the transcript span_class domain
    assert(errRules.head.spanKinds == Seq("exit", "entry")) // ["Client","Server"]
    // $$n collector escapes unescaped to $n (sample-collector-config.yaml:58-64)
    val ctxRules = jc.rules("asserts.request.context")
    assert(ctxRules.exists(_.replacement == "$1#$2#$3#$4"))
    assert(ctxRules.exists(_.replacement == "$1#$2"))
    // service-scoped rule lists keep their ns#svc keys
    assert(ctxRules.exists(_.serviceKey == "robot-shop#payment"))
    assert(ctxRules.exists(_.serviceKey == "robot-shop#shipping"))
    // rules with no value_expr default to "$1" (custom_attribute.go:60-63)
    assert(ctxRules.filter(_.serviceKey == "robot-shop#payment").forall(_.replacement == "$1"))
  }

  test("reference error-type rules reproduce span_enrichment_test semantics") {
    // mirrors span_enrichment_test.go:128-204: 4xx status -> client_errors,
    // 5xx -> server_errors, via the loaded (value_expr) rules
    import org.apache.spark.sql.functions._
    val yaml = sampleCollectorConfig
    val jc = ConfigLoader.fromYaml(yaml)
    val errCol = graft.functions.Rules.compileTarget(
      jc.rules("asserts.error.type"),
      attr = _ => col("status"), kindCol = col("kind"),
      serviceKeyCol = col("sk"), nsCol = col("ns"), svcCol = col("svc"))
    val df = spark.createDataFrame(Seq(
      ("404", "entry", "asserts#api-server", "asserts", "api-server"),
      ("504", "exit", "asserts#api-server", "asserts", "api-server"),
      ("200", "entry", "asserts#api-server", "asserts", "api-server")
    )).toDF("status", "kind", "sk", "ns", "svc")
    val got = df.select(col("status"), errCol.as("et")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("404") == "client_errors")
    assert(got("504") == "server_errors")
    assert(got("200") == null)
  }

  test("span_attributes present -> legacy custom_attributes ignored (buildCompiledConfig if/else)") {
    val yaml =
      """asserts_processor:
        |  span_attributes:
        |    - attr_name: request_context
        |      attr_configs:
        |        - rules:
        |            - source_attributes: [url]
        |              regex: "(.+)"
        |  custom_attributes:
        |    error_type:
        |      default:
        |        - source_attributes: [status]
        |          regex: "4.."
        |          value_expr: client_errors
        |""".stripMargin
    val jc = ConfigLoader.fromYaml(yaml)
    assert(jc.rules.keySet == Set("request_context")) // legacy block dropped
  }

  test("invalid regex fails job submission (Config.Validate semantics)") {
    val bad = yamlNew.replace("https?://.+?((/[^/?]+){1,3}).*", "(unclosed")
    intercept[java.util.regex.PatternSyntaxException](ConfigLoader.fromYaml(bad))
  }

  test("merge precedence: server config wins for control fields; buckets only if non-empty") {
    val local = ConfigLoader.fromYaml(yamlNew)
    val remote = ConfigLoader.fromYaml(
      """asserts_processor:
        |  default_latency_threshold: 2.0
        |  ignore_client_errors: true
        |  capture_metrics: false
        |  attributes_as_metric_labels: [call_service]
        |""".stripMargin)
    val merged = ConfigLoader.merge(local, remote)
    assert(merged.pipeline.defaultLatencyThresholdSecs == 2.0)
    assert(merged.pipeline.ignoreClientErrors)
    // all 7 factory.go:69-82 precedence fields, incl. the metric ones
    assert(!merged.pipeline.captureMetrics)
    assert(merged.pipeline.captureAttributesInMetric == Seq("call_service"))
    assert(merged.pipeline.histogramBuckets == local.pipeline.histogramBuckets)
    assert(merged.rules == local.rules) // remote had none

    // a remote that OMITS a field must not reset a local explicit value:
    // only fields the remote actually sets take precedence
    val localOff = ConfigLoader.fromYaml(
      """asserts_processor:
        |  capture_metrics: false
        |""".stripMargin)
    val remoteSilent = ConfigLoader.fromYaml(
      """asserts_processor:
        |  ignore_client_errors: true
        |""".stripMargin)
    val m2 = ConfigLoader.merge(localOff, remoteSilent)
    assert(!m2.pipeline.captureMetrics) // local explicit false survives
    assert(m2.pipeline.ignoreClientErrors) // remote-set field wins
  }

  test("Consumer/Producer span kinds normalize to entry/exit and fire on entry-class turns") {
    // utils.go:128-135: Consumer is an entry kind, Producer an exit kind;
    // a reference config gating on span_kinds: [Consumer] must match the
    // same turns a [Server] gate matches
    import org.apache.spark.sql.functions._
    val jc = ConfigLoader.fromYaml(
      """asserts_processor:
        |  span_attributes:
        |    - attr_name: request_context
        |      attr_configs:
        |        - rules:
        |            - source_attributes: [url]
        |              span_kinds: [Consumer]
        |              regex: "https?://.+?((/[^/?]+){1,1}).*"
        |            - source_attributes: [url]
        |              span_kinds: [Producer]
        |              regex: "https?://.+?((/[^/?]+){1,3}).*"
        |""".stripMargin)
    val rules = jc.rules("request_context")
    assert(rules.map(_.spanKinds) == Seq(Seq("entry"), Seq("exit")))
    // the Consumer(->entry) rule fires on an entry-class turn
    val turns = turnsDf(Seq(turn("c1", 1, "user", "web", 100, url = "https://h/a/b/c")))
    val parsed = graft.operators.Parse.parsed(
      graft.operators.Enrich.withServiceDim(turns, spark),
      rules = jc.rules ++ graft.operators.Parse.defaultRules.view.filterKeys(_ != "request_context").toMap
    )
    val got = parsed.select("request_context").collect().map(_.getString(0)).toSeq
    assert(got == Seq("/a"))
  }

  test("loaded rules drive the parse stage end-to-end") {
    import org.apache.spark.sql.functions._
    val jc = ConfigLoader.fromYaml(yamlNew)
    val turns = turnsDf(Seq(
      turn("c1", 1, "user", "api-server", 100, url = "https://h/a/b/c/d"),
      turn("c2", 1, "user", "web", 100, url = "https://h/a/b/c/d")
    ))
    val parsed = graft.operators.Parse.parsed(
      graft.operators.Enrich.withServiceDim(turns, spark),
      rules = jc.rules ++ graft.operators.Parse.defaultRules.view.filterKeys(_ != "request_context").toMap
    )
    val got = parsed.select("conv_id", "request_context").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // api-server: 3-segment service-specific rule (backend#api-server falls
    // back to... config key is platform#api-server, row key backend#api-server
    // -> svc fallback misses -> default 2-segment)
    assert(got("c2") == "/a/b")
    assert(got("c1") == "/a/b")
  }
}
