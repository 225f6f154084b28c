/*
 * JsonHttpTransport: the JSON-over-HTTP transport of the Iceberg-REST, Unity,
 * Polaris and Glue plugins (the role of the reference's RestClient.java:73-120):
 * header.* options, one HttpClient, a JSON call, the status-to-exception
 * mapping and the continuation-token drain loop.
 */
package lance_namespace_impls_spark.jvm;

import com.fasterxml.jackson.databind.JsonNode;

import java.io.IOException;
import java.io.UncheckedIOException;
import java.net.URI;
import java.net.URLEncoder;
import java.net.http.HttpClient;
import java.net.http.HttpRequest;
import java.net.http.HttpResponse;
import java.nio.charset.StandardCharsets;
import java.time.Duration;
import java.util.ArrayList;
import java.util.HashMap;
import java.util.List;
import java.util.Map;

import org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException;
import org.apache.spark.sql.util.CaseInsensitiveStringMap;

final class JsonHttpTransport {

  /** One answer: the status and the parsed JSON body (null when empty). */
  static final class Resp {
    final int status;
    final JsonNode body;

    Resp(int status, JsonNode body) {
      this.status = status;
      this.body = body;
    }
  }

  /** One listing page for a continuation token (null for the first page). */
  interface PageFetch {
    JsonNode page(String token) throws NoSuchNamespaceException;
  }

  private final String endpoint;
  private final String contentType;
  private final Map<String, String> headers = new HashMap<>();
  private final HttpClient http =
      HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(10)).build();

  /** uri without a trailing slash, with apiSuffix appended unless present;
   * every spark.sql.catalog.<name>.header.X = Y option rides each request. */
  JsonHttpTransport(
      String uri, String apiSuffix, String contentType, CaseInsensitiveStringMap options) {
    String base = uri.endsWith("/") ? uri.substring(0, uri.length() - 1) : uri;
    this.endpoint = base.endsWith(apiSuffix) ? base : base + apiSuffix;
    this.contentType = contentType;
    for (Map.Entry<String, String> e : options.entrySet()) {
      if (e.getKey().startsWith("header.")) {
        headers.put(e.getKey().substring("header.".length()), e.getValue());
      }
    }
  }

  /** extraHeaders are name, value pairs sent before the configured headers. */
  Resp call(String method, String path, JsonNode body, String... extraHeaders) {
    try {
      HttpRequest.Builder b =
          HttpRequest.newBuilder()
              .uri(URI.create(endpoint + path))
              .timeout(Duration.ofSeconds(30))
              .header("Content-Type", contentType);
      for (int i = 0; i < extraHeaders.length; i += 2) {
        b.header(extraHeaders[i], extraHeaders[i + 1]);
      }
      headers.forEach(b::header);
      b.method(method, body == null
          ? HttpRequest.BodyPublishers.noBody()
          : HttpRequest.BodyPublishers.ofString(
              AbstractLanceTableCatalog.MAPPER.writeValueAsString(body)));
      HttpResponse<String> resp = http.send(b.build(), HttpResponse.BodyHandlers.ofString());
      String text = resp.body();
      JsonNode parsed = text == null || text.isEmpty()
          ? null
          : AbstractLanceTableCatalog.MAPPER.readTree(text);
      return new Resp(resp.statusCode(), parsed);
    } catch (IOException e) {
      throw new UncheckedIOException(e);
    } catch (InterruptedException e) {
      Thread.currentThread().interrupt();
      throw new RuntimeException(e);
    }
  }

  /** The body of a 2xx answer; any other status becomes an exception. */
  static JsonNode check(String what, Resp r) {
    if (r.status >= 200 && r.status < 300) {
      return r.body;
    }
    String detail = "";
    if (r.body != null) {
      // The service's own message: Iceberg-REST and Polaris nest it under
      // "error", Unity puts it at the top, AWS capitalizes it.
      JsonNode message = r.body.path("error").path("message");
      if (message.isMissingNode()) {
        message = r.body.path("message");
      }
      if (message.isMissingNode()) {
        message = r.body.path("Message");
      }
      detail = message.asText(r.body.toString());
    }
    String text = what + ": HTTP " + r.status + " " + detail;
    throw r.status == 400 ? new IllegalArgumentException(text) : new RuntimeException(text);
  }

  static String enc(String s) {
    return URLEncoder.encode(s, StandardCharsets.UTF_8);
  }

  /**
   * Concatenated pages of a listing.  Real services cap page sizes
   * server-side, so a single request silently truncates (reference drain
   * pattern: GlueNamespace.java:217-233, PageUtil.java:32-51); a token that
   * repeats would loop forever and fails instead.
   */
  static List<JsonNode> drainPages(String what, String tokenField, PageFetch fetch)
      throws NoSuchNamespaceException {
    List<JsonNode> pages = new ArrayList<>();
    String token = null;
    while (true) {
      JsonNode page = fetch.page(token);
      pages.add(page);
      String next = page.path(tokenField).asText("");
      if (next.isEmpty()) {
        return pages;
      }
      if (next.equals(token)) {
        throw new IllegalStateException(
            "pagination not progressing (token " + next + " repeated) at " + what);
      }
      token = next;
    }
  }

  /** GET listing whose token rides query parameter tokenParam; 404 means the
   * listed namespace does not exist. */
  List<JsonNode> drainPages(
      String basePath, String tokenField, String tokenParam, String[] namespace)
      throws NoSuchNamespaceException {
    String sep = basePath.contains("?") ? "&" : "?";
    return drainPages(basePath, tokenField, token -> {
      String path = token == null ? basePath : basePath + sep + tokenParam + "=" + enc(token);
      Resp r = call("GET", path, null);
      if (r.status == 404) {
        throw new NoSuchNamespaceException(namespace);
      }
      return check("GET " + path, r);
    });
  }
}
