package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.algebra.{Compiler, ServiceRegistry}
import graft.model.Term
import graft.model.Triple
import graft.sparql.Sparql

/** SERVICE execution against registered endpoints (loopback federation —
 * the zero-egress twin of the reference's ServiceExec over HTTP). */
class ServiceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val EX = "http://example/"
  private def i(s: String) = Term.iri(EX + s)

  private lazy val localGraph: DataFrame = {
    import spark.implicits._
    spark.createDataset(Seq(
      Triple(i("alice"), i("name"), Term.string("Alice")),
      Triple(i("bob"), i("name"), Term.string("Bob")),
      Triple(i("carol"), i("name"), Term.string("Carol")))).toDF()
  }
  // two "remote" datasets holding emails / phones for subsets of people
  private lazy val emailsGraph: DataFrame = {
    import spark.implicits._
    spark.createDataset(Seq(
      Triple(i("alice"), i("email"), Term.string("alice@example")),
      Triple(i("carol"), i("email"), Term.string("carol@example")))).toDF()
  }
  private lazy val phonesGraph: DataFrame = {
    import spark.implicits._
    spark.createDataset(Seq(
      Triple(i("bob"), i("email"), Term.string("bob@elsewhere")))).toDF()
  }

  private def withEndpoints[A](f: => A): A = {
    ServiceRegistry.register(EX + "emails", Compiler.DfGraph(emailsGraph))
    ServiceRegistry.register(EX + "phones", Compiler.DfGraph(phonesGraph))
    try f finally ServiceRegistry.clear()
  }

  private def lexes(df: DataFrame, c: String): Set[String] =
    df.select(col(c).getField("lex")).collect().map(_.getString(0)).toSet

  test("SERVICE <iri>: inner pattern evaluates remotely, joins locally") {
    withEndpoints {
      val out = Sparql.select(
        s"""SELECT ?s ?mail WHERE {
              ?s <${EX}name> ?n .
              SERVICE <${EX}emails> { ?s <${EX}email> ?mail }
            }""", localGraph)
      assert(lexes(out, "mail") == Set("alice@example", "carol@example"))
    }
  }

  test("SERVICE ?ep: variable target enumerates registered endpoints") {
    withEndpoints {
      val out = Sparql.select(
        s"""SELECT ?ep ?s ?mail WHERE {
              ?s <${EX}name> ?n .
              SERVICE ?ep { ?s <${EX}email> ?mail }
            }""", localGraph)
      val rows = out.collect().map(r =>
        (r.getStruct(0).getString(1), r.getStruct(2).getString(1))).toSet
      assert(rows == Set(
        (EX + "emails", "alice@example"),
        (EX + "emails", "carol@example"),
        (EX + "phones", "bob@elsewhere")))
    }
  }

  test("SERVICE SILENT over an unknown endpoint = unit table") {
    withEndpoints {
      val out = Sparql.select(
        s"""SELECT ?s ?mail WHERE {
              ?s <${EX}name> ?n .
              SERVICE SILENT <${EX}nowhere> { ?s <${EX}email> ?mail }
            }""", localGraph)
      // unit join: all three outer rows survive, ?mail unbound
      assert(out.count() == 3)
      assert(out.collect().forall(_.isNullAt(1)))
    }
  }

  test("SERVICE over an unknown endpoint raises without SILENT") {
    withEndpoints {
      val e = intercept[IllegalArgumentException] {
        Sparql.select(
          s"""SELECT * WHERE { SERVICE <${EX}nowhere> { ?s ?p ?o } }""",
          localGraph)
      }
      assert(e.getMessage.contains("not registered"))
    }
  }

  test("ServiceTransport seam: fake wire transport joins like a local endpoint") {
    // a fake HTTP client returning a canned W3C SPARQL-JSON document —
    // proves the engine side of the seam (query text out, result-set
    // document in) without any network
    val seen = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val fake = new ServiceRegistry.ServiceTransport {
      def execute(iri: String, q: String): (String, String) = {
        seen += ((iri, q))
        ("application/sparql-results+json",
          s"""{"head":{"vars":["s","mail"]},"results":{"bindings":[
                {"s":{"type":"uri","value":"${EX}alice"},
                 "mail":{"type":"literal","value":"alice@wire"}},
                {"s":{"type":"uri","value":"${EX}dave"},
                 "mail":{"type":"literal","value":"dave@wire"}}]}}""")
      }
    }
    ServiceRegistry.registerTransport(EX + "wire", fake)
    try {
      val out = Sparql.select(
        s"""PREFIX ex: <$EX>
            SELECT ?s ?mail WHERE {
              ?s ex:name ?n .
              SERVICE <${EX}wire> { ?s ex:email ?mail }
            }""", localGraph)
      // dave is not in the local graph — only alice survives the join
      assert(lexes(out, "mail") == Set("alice@wire"))
      // the transport received the endpoint IRI and a SELF-CONTAINED
      // query (prologue + SELECT * over the body's source text)
      val (iri, q) = seen.head
      assert(iri == EX + "wire")
      assert(q.contains(s"PREFIX ex: <$EX>") && q.contains("SELECT * WHERE")
        && q.contains("ex:email"))
    } finally ServiceRegistry.clear()
  }

  test("LoopbackTransport: round-trips through the SPARQL-JSON wire format") {
    ServiceRegistry.registerTransport(EX + "emails",
      new ServiceRegistry.LoopbackTransport(emailsGraph))
    try {
      val out = Sparql.select(
        s"""SELECT ?s ?mail WHERE {
              ?s <${EX}name> ?n .
              SERVICE <${EX}emails> { ?s <${EX}email> ?mail }
            }""", localGraph)
      assert(lexes(out, "mail") == Set("alice@example", "carol@example"))
      // SILENT swallows a transport failure → unit table (left side kept)
      ServiceRegistry.registerTransport(EX + "down",
        new ServiceRegistry.ServiceTransport {
          def execute(i: String, q: String) = throw new RuntimeException("503")
        })
      val silent = Sparql.select(
        s"""SELECT * WHERE {
              ?s <${EX}name> ?n .
              SERVICE SILENT <${EX}down> { ?s <${EX}email> ?mail }
            }""", localGraph)
      assert(silent.count() == 3)
    } finally ServiceRegistry.clear()
  }

  test("SERVICE response over the byte cap raises; SILENT gives the unit table") {
    import java.net.InetSocketAddress
    import com.sun.net.httpserver.HttpServer
    // an endpoint whose result document runs past the cap, streamed
    // chunked so no Content-Length announces it
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/sparql", ex => {
      ex.getResponseHeaders.set("Content-Type", "application/sparql-results+json")
      ex.sendResponseHeaders(200, 0)
      val chunk = Array.fill[Byte](1 << 20)(' ')
      try (0 to ServiceRegistry.MaxResponseBytes / chunk.length)
        .foreach(_ => ex.getResponseBody.write(chunk))
      catch { case _: java.io.IOException => () } // the client stopped reading
      finally ex.close()
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/sparql"
    ServiceRegistry.registerTransport(url, new ServiceRegistry.HttpServiceTransport())
    try {
      intercept[ServiceRegistry.ServiceResponseTooLarge] {
        Sparql.select(s"SELECT ?mail WHERE { SERVICE <$url> { ?s ?p ?mail } }",
          localGraph).collect()
      }
      val out = Sparql.select(
        s"""SELECT ?s ?n WHERE {
              ?s <${EX}name> ?n .
              SERVICE SILENT <$url> { ?s <${EX}email> ?mail }
            }""", localGraph)
      assert(out.count() == 3) // unit table joined: left rows survive
    } finally { ServiceRegistry.clear(); server.stop(0) }
  }
}
