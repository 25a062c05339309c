"""The JVM JSON flatten (``jvm/JsonFlatten.java``) against its Python
oracle (``oracle.flatten_json_line``): random doubles from random bit
patterns and random nested JSON, compared as ordered map entries."""

import math
import random
import struct

N_DOUBLES = 105_000
N_NESTED = 4_000


def _double(rng) -> float:
    while True:
        v = struct.unpack("<d", rng.getrandbits(64).to_bytes(8, "little"))[0]
        if math.isfinite(v):
            return v


#: doubles at the edges of the format: subnormals, the extremes, powers
#: of two (an asymmetric rounding interval), Java's two-digit minimum
EDGES = [
    0.0, -0.0, 5e-324, -5e-324, 1e-323, 2.2250738585072014e-308,
    2.225073858507201e-308, 1.7976931348623157e308, 1e23, 9.999999999999999e22,
    2.82879384806159e17, 1.0, 2.0 ** 63, 2.0 ** -1074 * 3, 2.0 ** 1023, 0.5,
    4.35, 9e-05, 1e-05, 123456789.0, 1e16, 1e21, 1e22, 8.41e21, 5.0e-324 * 7,
]


def _token(rng, v: float) -> str:
    """A JSON spelling of ``v``: the shortest, 17 digits or 25 digits."""
    form = rng.randrange(3)
    if form == 0:
        return repr(v)
    return f"{v:.17g}" if form == 1 else f"{v:.25e}"


def test_random_doubles_match_oracle(flatten_mismatches):
    """Over 100k doubles from random bit patterns (three per line, one
    of them in an array) print as the oracle's shortest 'E' form."""
    rng = random.Random(13)
    values = EDGES + [_double(rng) for _ in range(N_DOUBLES - len(EDGES))]
    lines = [
        '{"n": %s, "a": [%s, %s]}' % tuple(_token(rng, v) for v in values[i : i + 3])
        for i in range(0, len(values) - 2, 3)
    ]
    bad = flatten_mismatches(lines)
    assert bad == [], bad[:5]


#: keys (JSON text) that collide once flattened (a_b vs {"a":{"b":...}}),
#: repeat, hold unicode or surrogate escapes, or are "Records"
KEYS = [
    "a", "b", "a_b", "b_a", "Records", "x", "ключ", "键", "😀", "", r"a\u005fb",
    r"\ud800", r"\udc00z", r"\ud83d\ude00", "é", r"\u00e9",
]

#: string values as JSON text: escapes, unicode, lone and paired
#: surrogate escapes, text that looks like Go's formatting
STRINGS = [
    "", "v", "two words", "ünïcödé", "中文", "😀", r"tab\there", r"quote\"q",
    r"back\\slash", r"\/", r"\u00e9", r"\ud83d\ude00", r"\ud800", r"x\udfff",
    r"\ud83d\u0041", r"\u0000", r"line\nbreak", "map[k:v]", "[1 2]",
]


def _ws(rng) -> str:
    return rng.choice(["", "", "", " ", "\n", "\t ", "\r\n"])


def _value(rng, depth: int) -> str:
    r = rng.random()
    if depth < 6 and r < 0.2:
        return _object(rng, depth + 1)
    if depth < 6 and r < 0.35:
        items = [_value(rng, depth + 1) for _ in range(rng.randrange(4))]
        return "[" + ",".join(_ws(rng) + x + _ws(rng) for x in items) + "]"
    if r < 0.55:
        return '"' + rng.choice(STRINGS) + '"'
    if r < 0.7:
        return str(rng.choice([0, -1, 7, 2**31, -(2**63), 10**30, rng.randrange(-(10**6), 10**6)]))
    if r < 0.85:
        return _token(rng, _double(rng) if rng.random() < 0.3 else rng.uniform(-1e3, 1e3))
    return rng.choice(["true", "false", "null", "-0", "0.0", "-0.0", "1E2", "1e-7"])


def _object(rng, depth: int) -> str:
    members = [
        _ws(rng) + '"' + rng.choice(KEYS) + '"' + _ws(rng) + ":" + _ws(rng) + _value(rng, depth)
        for _ in range(rng.randrange(5))
    ]
    return "{" + ",".join(members) + _ws(rng) + "}"


def _line(rng) -> str:
    r = rng.random()
    if r < 0.15:
        recs = [_object(rng, 1) for _ in range(rng.randrange(3))]
        return '{"Records":[' + ",".join(recs) + "]" + rng.choice(["", ',"a":1']) + "}"
    if r < 0.2:
        # not JSON: a number Go's encoding/json rejects, or trailing data
        bad = rng.choice(["1e400", "[NaN]", '{"m":-Infinity}'])
        return rng.choice(['{"bad":' + bad + ',"k":' + _object(rng, 1) + "}", _object(rng, 0) + "}"])
    return _object(rng, 0)


def test_random_nested_json_matches_oracle(flatten_mismatches):
    """Random objects up to depth 6 with arrays, objects in arrays,
    unicode, surrogate escapes, duplicate and colliding keys, Records
    lines and lines that are not JSON."""
    rng = random.Random(7)
    lines = [_line(rng) for _ in range(N_NESTED)]
    bad = flatten_mismatches(lines)
    assert bad == [], bad[:5]
