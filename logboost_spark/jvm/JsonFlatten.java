package logboost_spark.jvm;

import java.io.IOException;
import java.math.BigDecimal;
import java.math.MathContext;
import java.math.RoundingMode;
import java.util.LinkedHashMap;
import java.util.Map;
import java.util.StringJoiner;
import java.util.TreeMap;

import com.fasterxml.jackson.core.io.schubfach.DoubleToDecimal;
import com.fasterxml.jackson.databind.DeserializationFeature;
import com.fasterxml.jackson.databind.JsonNode;
import com.fasterxml.jackson.databind.ObjectMapper;
import com.fasterxml.jackson.databind.json.JsonMapper;
import org.apache.spark.sql.api.java.UDF1;

/**
 * Deep parent_child flatten of one JSON line with Go-style value
 * stringification (reference parsers/parse_json_multi.go:322-432); the
 * Python twin is {@code logboost_spark.oracle.flatten_json_line}.
 *
 * <p>A {@code {"Records":[{...}, ...]}} line flattens {@code Records[0]}.
 * A line that is not one JSON object (bad syntax, trailing data, NaN,
 * +-Infinity, a number past float64) gives null, so the caller keeps
 * its {@code {"line": text}} fallback. Duplicate keys keep the last
 * value in the first key's position; output keys keep insertion order.
 */
public final class JsonFlatten implements UDF1<String, Map<String, String>> {
  private static final long serialVersionUID = 1L;

  private static final ObjectMapper JSON =
      JsonMapper.builder().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS).build();

  @Override
  public Map<String, String> call(String text) {
    if (text == null) {
      return null;
    }
    JsonNode obj;
    try {
      obj = JSON.readTree(text);
    } catch (IOException | StackOverflowError e) {
      return null;
    }
    if (obj == null || !obj.isObject() || !finite(obj)) {
      return null;
    }
    JsonNode recs = obj.get("Records");
    if (recs != null && recs.isArray() && recs.size() > 0 && recs.get(0).isObject()) {
      obj = recs.get(0);
    }
    Map<String, String> out = new LinkedHashMap<>();
    flatten(obj, "", out);
    return out;
  }

  /** Go's encoding/json rejects NaN, +-Inf and float64 overflow. */
  private static boolean finite(JsonNode node) {
    if (node.isContainerNode()) {
      for (JsonNode child : node) {
        if (!finite(child)) {
          return false;
        }
      }
      return true;
    }
    return !node.isFloatingPointNumber() || Double.isFinite(node.doubleValue());
  }

  private static void flatten(JsonNode obj, String prefix, Map<String, String> out) {
    for (Map.Entry<String, JsonNode> e : obj.properties()) {
      String key = validUtf16(e.getKey());
      String name = prefix.isEmpty() ? key : prefix + "_" + key;
      if (e.getValue().isObject()) {
        flatten(e.getValue(), name, out);
      } else {
        out.put(name, goString(e.getValue()));
      }
    }
  }

  /**
   * A string as is, null as ErrorNil, a bool as true/false, an integer
   * in full, a float as FormatFloat(v, 'E', -1, 64), an array as
   * fmt.Sprint's space-separated [...], an object as fmt's map[k:v ...]
   * with sorted keys.
   */
  static String goString(JsonNode v) {
    if (v.isTextual()) {
      return validUtf16(v.textValue());
    }
    if (v.isNull()) {
      return "ErrorNil";
    }
    if (v.isBoolean()) {
      return v.booleanValue() ? "true" : "false";
    }
    if (v.isIntegralNumber()) {
      return v.bigIntegerValue().toString();
    }
    if (v.isFloatingPointNumber()) {
      return goFloat(v.doubleValue());
    }
    if (v.isArray()) {
      StringJoiner items = new StringJoiner(" ", "[", "]");
      for (JsonNode x : v) {
        items.add(goString(x));
      }
      return items.toString();
    }
    Map<String, String> sorted = new TreeMap<>(JsonFlatten::codePointOrder);
    for (Map.Entry<String, JsonNode> e : v.properties()) {
      sorted.put(validUtf16(e.getKey()), goString(e.getValue()));
    }
    StringJoiner items = new StringJoiner(" ", "map[", "]");
    sorted.forEach((k, s) -> items.add(k + ":" + s));
    return items.toString();
  }

  /** The shortest digits that round-trip; the exponent has at least two digits. */
  static String goFloat(double d) {
    if (d == 0) {
      return Double.doubleToRawLongBits(d) < 0 ? "-0E+00" : "0E+00";
    }
    double a = Math.abs(d);
    BigDecimal dec = new BigDecimal(DoubleToDecimal.toString(a)).stripTrailingZeros();
    if (dec.precision() == 2) {
      // Schubfach gives at least two digits (Java's Double.toString
      // contract): take one when one round-trips, the nearer first
      BigDecimal exact = new BigDecimal(a);
      for (RoundingMode m : new RoundingMode[] {RoundingMode.HALF_EVEN, RoundingMode.DOWN, RoundingMode.UP}) {
        BigDecimal one = exact.round(new MathContext(1, m));
        if (one.doubleValue() == a) {
          dec = one;
          break;
        }
      }
    }
    String digits = dec.unscaledValue().toString();
    int exp = digits.length() - 1 - dec.scale();
    StringBuilder s = new StringBuilder(digits.length() + 8);
    s.append(d < 0 ? "-" : "").append(digits.charAt(0));
    if (digits.length() > 1) {
      s.append('.').append(digits, 1, digits.length());
    }
    s.append(exp < 0 ? "E-" : "E+").append(Math.abs(exp) < 10 ? "0" : "").append(Math.abs(exp));
    return s.toString();
  }

  /** Go's encoding/json decodes an unpaired surrogate escape as U+FFFD. */
  static String validUtf16(String s) {
    for (int i = 0; i < s.length(); i++) {
      if (Character.isSurrogate(s.charAt(i))) {
        StringBuilder b = new StringBuilder(s.length());
        s.codePoints().forEach(c -> b.appendCodePoint(
            c >= Character.MIN_SURROGATE && c <= Character.MAX_SURROGATE ? 0xFFFD : c));
        return b.toString();
      }
    }
    return s;
  }

  /** fmt sorts map keys by their UTF-8 bytes, which is code point order. */
  private static int codePointOrder(String a, String b) {
    int n = Math.min(a.length(), b.length());
    for (int i = 0; i < n; i++) {
      char x = a.charAt(i);
      char y = b.charAt(i);
      if (x != y) {
        boolean sx = Character.isSurrogate(x);
        return sx == Character.isSurrogate(y) ? Character.compare(x, y) : sx ? 1 : -1;
      }
    }
    return Integer.compare(a.length(), b.length());
  }
}
