package graft

import graft.sqlsurface.GraftSql
import org.apache.spark.sql.Row

/** `LANGUAGE python` UDFs end to end: every case runs CREATE FUNCTION and
  * one SELECT through [[GraftSql]], so the body executes on CPython in a
  * Spark Python worker. The SQL function is named after the body's last
  * top-level def (its entry point); the arguments are SQL literals cast to
  * the declared `sig`, and each call is one column of the SELECT. A Python
  * list, tuple or mixed-type result comes back through a `string` return,
  * that is as CPython's `str()` of the value. The spec is named for the
  * Python interpreter its bodies run on. */
class PyInterpSpec extends SparkSpec {

  private case class Case(title: String, body: String, sig: Seq[String], ret: String,
      calls: (String, Any)*)

  /** The SELECT of `args` fails with `error` in the Python traceback. */
  private case class Fails(title: String, body: String, sig: Seq[String], ret: String,
      args: String, error: String)

  private def entry(body: String): String =
    """(?m)^def (\w+)""".r.findAllMatchIn(body).toSeq.last.group(1)

  private def create(fn: String, sig: Seq[String], ret: String, body: String): Unit =
    GraftSql(spark, s"CREATE OR REPLACE FUNCTION $fn(" +
      sig.zipWithIndex.map { case (t, i) => s"a$i $t" }.mkString(", ") +
      s") RETURNS $ret LANGUAGE python AS $$$$\n$body\n$$$$")

  private def select(fn: String, calls: Seq[String]): Row =
    GraftSql(spark, calls.zipWithIndex.map { case (a, i) => s"$fn($a) AS c$i" }
      .mkString("SELECT ", ", ", "")).collect().head

  private def same(got: Any, want: Any): Boolean = (got, want) match {
    case (g: Double, w: Double) => math.abs(g - w) < 1e-12
    case _ => got == want
  }

  /** Every message down the cause chain: Spark wraps the Python traceback. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(String.valueOf(_)).mkString("\n")

  private val cases = Seq(
    Case("while loop with break/continue",
      """def f(n):
        |    total = 0
        |    i = 0
        |    while True:
        |        i += 1
        |        if i > n:
        |            break
        |        if i % 2 == 0:
        |            continue
        |        total += i
        |    return total""",
      Seq("bigint"), "bigint", "10" -> 25L),
    Case("elif chains",
      """def grade(x):
        |    if x >= 90:
        |        return 'A'
        |    elif x >= 80:
        |        return 'B'
        |    elif x >= 70:
        |        return 'C'
        |    else:
        |        return 'F'""",
      Seq("bigint"), "string", "95" -> "A", "85" -> "B", "71" -> "C", "3" -> "F"),
    Case("and/or return the operand (Python value semantics), not in",
      """def f(x, y):
        |    a = x or 'default'
        |    b = x and y
        |    c = 'z' not in y
        |    return a + '|' + str(b) + '|' + str(c)""",
      Seq("string", "string"), "string", "'', 'abc'" -> "default||True", "'v', 'xyz'" -> "v|xyz|False"),
    Case("chained comparisons evaluate each operand once, short-circuit",
      """def f(x):
        |    return 1 <= x < 10 == 10""",
      Seq("bigint"), "boolean", "5" -> true, "10" -> false, "0" -> false),
    Case("ternary expression",
      """def f(x):
        |    return 'neg' if x < 0 else ('zero' if x == 0 else 'pos')""",
      Seq("bigint"), "string", "-3" -> "neg", "0" -> "zero", "9" -> "pos"),
    Case("dict literal, subscript get/set, get/keys/values/items, in",
      """def f(k):
        |    d = {'a': 1, 'b': 2}
        |    d['c'] = d['a'] + d['b']
        |    d['a'] += 10
        |    has = k in d
        |    return str(d['c']) + '|' + str(d.get(k, -1)) + '|' + str(has) + '|' + str(len(d))""",
      Seq("string"), "string", "'a'" -> "3|11|True|3", "'z'" -> "3|-1|False|3"),
    Case("dict iteration preserves insertion order; items unpack in for",
      """def f():
        |    d = {'x': 1, 'y': 2, 'z': 3}
        |    out = ''
        |    for k, v in d.items():
        |        out = out + k + str(v)
        |    return out""",
      Seq(), "string", "" -> "x1y2z3"),
    Case("tuples: literals, indexing, comparison, str()",
      """def f():
        |    t = (1, 'two', 3.5)
        |    u = (1, 2) < (1, 3)
        |    return str(t[1]) + '|' + str(u) + '|' + str(t)""",
      Seq(), "string", "" -> "two|True|(1, 'two', 3.5)"),
    Case("list methods: append/pop/insert/extend/sort/reverse/remove/index/count",
      """def f():
        |    xs = [3, 1]
        |    xs.append(2)
        |    xs.extend([5, 1])
        |    xs.sort()
        |    a = xs.pop()
        |    xs.remove(1)
        |    xs.insert(0, 9)
        |    xs.reverse()
        |    return str(xs) + '|' + str(a) + '|' + str(xs.index(3)) + '|' + str(xs.count(1))""",
      Seq(), "string", "" -> "[3, 2, 1, 9]|5|0|1"),
    Case("slicing with negatives, steps, and reversal",
      """def f(s):
        |    return s[1:4] + '|' + s[-3:] + '|' + s[::2] + '|' + s[::-1]""",
      Seq("string"), "string", "'abcdefg'" -> "bcd|efg|aceg|gfedcba"),
    Case("list slicing returns a new list",
      """def f():
        |    xs = [1, 2, 3, 4, 5]
        |    ys = xs[1:3]
        |    ys.append(99)
        |    return str(xs) + '|' + str(ys)""",
      Seq(), "string", "" -> "[1, 2, 3, 4, 5]|[2, 3, 99]"),
    Case("list comprehension with condition; nested fors",
      """def f(n):
        |    sq = [x * x for x in range(n) if x % 2 == 1]
        |    pairs = [(a, b) for a in range(2) for b in range(2)]
        |    return str(sq) + '|' + str(len(pairs))""",
      Seq("bigint"), "string", "6" -> "[1, 9, 25]|4"),
    Case("generator expression inside sum/min/max/any/all",
      """def f(n):
        |    s = sum(x * x for x in range(n))
        |    m = max(x % 7 for x in range(n))
        |    e = any(x > 90 for x in range(n))
        |    a = all(x < 100 for x in range(n))
        |    return str(s) + '|' + str(m) + '|' + str(e) + '|' + str(a)""",
      Seq("bigint"), "string", "100" -> "328350|6|True|True"),
    Case("helper functions and recursion with default args",
      """def fib(n):
        |    if n < 2:
        |        return n
        |    return fib(n - 1) + fib(n - 2)
        |
        |def main(n, scale=2):
        |    return fib(n) * scale""",
      Seq("bigint"), "bigint", "10" -> 110L),
    Case("module-level constants are visible inside functions",
      """FACTOR = 3
        |NAMES = ['a', 'b']
        |
        |def f(x):
        |    return x * FACTOR + len(NAMES)""",
      Seq("bigint"), "bigint", "5" -> 17L),
    Case("import math: functions and constants",
      """import math
        |
        |def f(x):
        |    r = math.sqrt(x) + math.floor(2.7) + math.ceil(2.1)
        |    return r + math.pi""",
      Seq("bigint"), "double", "16" -> (4.0 + 2 + 3 + math.Pi)),
    Case("from math import binds names; floor returns int",
      """from math import sqrt, floor
        |
        |def f(x):
        |    return floor(sqrt(x))""",
      Seq("bigint"), "bigint", "10" -> 3L),
    Case("f-strings with expressions and format specs",
      """def f(name, v):
        |    return f"{name}: {v:.2f} ({v * 100:.0f}%)"""",
      Seq("string", "double"), "string", "'acc', 0.8756D" -> "acc: 0.88 (88%)"),
    Case("string methods: split/join/find/count/zfill/title/format",
      """def f(s):
        |    parts = s.split(',')
        |    j = '-'.join(parts)
        |    return j + '|' + str(s.find('b')) + '|' + str(s.count(',')) + '|' + '7'.zfill(3) + '|' + 'a b'.title() + '|' + '{} and {}'.format(1, 'x')""",
      Seq("string"), "string", "'a,b,c'" -> "a-b-c|2|2|007|A B|1 and x"),
    Case("split keeps empty fields like Python",
      """def f(s):
        |    return str(len(s.split(',')))""",
      Seq("string"), "string", "'a,,b,'" -> "4"),
    Case("builtins: sorted/reversed/enumerate/zip/ord/chr/round half-even",
      """def f():
        |    xs = sorted([3, 1, 2])
        |    ys = list(reversed(xs))
        |    pairs = list(zip('ab', [10, 20]))
        |    out = ''
        |    for i, c in enumerate('xy'):
        |        out = out + str(i) + c
        |    r = str(round(2.5)) + str(round(3.5)) + str(round(2.675, 2))
        |    return str(ys) + '|' + str(pairs[1][1]) + '|' + out + '|' + str(ord('A')) + chr(66) + '|' + r""",
      Seq(), "string", "" -> "[3, 2, 1]|20|0x1y|65B|242.67"),
    Case("range as a value: len, index, membership, list()",
      """def f():
        |    r = range(2, 20, 3)
        |    return str(len(r)) + '|' + str(r[2]) + '|' + str(8 in r) + '|' + str(9 in r) + '|' + str(list(range(3)))""",
      Seq(), "string", "" -> "6|8|True|False|[0, 1, 2]"),
    Case("while-loop string builder: collatz length",
      """def collatz(n):
        |    steps = 0
        |    while n != 1:
        |        if n % 2 == 0:
        |            n = n // 2
        |        else:
        |            n = 3 * n + 1
        |        steps += 1
        |    return steps""",
      Seq("bigint"), "bigint", "27" -> 111L),
    Case("multi-line expressions join implicitly inside brackets",
      """def f():
        |    xs = [1,
        |          2,
        |          3]
        |    return sum(xs)""",
      Seq(), "bigint", "" -> 6L),
    Case("inline comments are stripped outside strings",
      """def f(s):  # trailing comment
        |    x = 1  # add one
        |    y = '#notacomment'
        |    return s + y + str(x)""",
      Seq("string"), "string", "'a'" -> "a#notacomment1"),
    Case("is / is not None",
      """def f(x):
        |    if x is None:
        |        return 'none'
        |    return 'value'""",
      Seq("bigint"), "string", "NULL" -> null, "0" -> "value"),
    Case("str() of containers matches CPython repr rules",
      """def f():
        |    return str([1, 'a', 2.0, None, True, (1,)])""",
      Seq(), "string", "" -> "[1, 'a', 2.0, None, True, (1,)]"),
    Case("escape sequences in string literals",
      "def f():\n    return 'a\\tb' + \"\\n\" + 'it\\'s'",
      Seq(), "string", "" -> "a\tb\nit's"),
    Case("realistic UDF: word-frequency top token",
      """def top_token(text):
        |    counts = {}
        |    for w in text.lower().split():
        |        w = w.strip('.,')
        |        if len(w) < 2:
        |            continue
        |        counts[w] = counts.get(w, 0) + 1
        |    best = None
        |    best_n = -1
        |    for w in counts:
        |        if counts[w] > best_n or (counts[w] == best_n and w < best):
        |            best = w
        |            best_n = counts[w]
        |    return f"{best}:{best_n}"""",
      Seq("string"), "string", "'the cat and the dog and the bird'" -> "the:3"),
    Case("quality-score style UDF with math and comprehension",
      """import math
        |
        |def score(text):
        |    words = text.split()
        |    if not words:
        |        return 0.0
        |    avg = sum(len(w) for w in words) / len(words)
        |    caps = sum(1 for w in words if w[0].isupper())
        |    return round(math.log(1 + avg) * (1 + caps / len(words)), 4)""",
      Seq("string"), "double", "'The quick Brown fox'" -> {
        val words = Seq("The", "quick", "Brown", "fox")
        val avg = words.map(_.length).sum.toDouble / 4
        BigDecimal(math.log(1 + avg) * 1.5)
          .setScale(4, BigDecimal.RoundingMode.HALF_EVEN).toDouble
      }),
    Case("sorted with lambda key",
      """def f(xs):
        |    return sorted(xs, key=lambda t: t[1])""",
      Seq("array<array<bigint>>"), "string", "array(array(1, 3), array(2, 1), array(3, 2))" -> "[[2, 1], [3, 2], [1, 3]]"),
    Case("sorted key= reverse= is stable (equal keys keep source order)",
      """def f(xs):
        |    return sorted(xs, key=lambda s: len(s), reverse=True)""",
      Seq("array<string>"), "string", "array('aa', 'b', 'cccc', 'dd')" -> "['cccc', 'aa', 'dd', 'b']"),
    Case("max with key returns FIRST maximal element, like CPython",
      """def f(xs):
        |    return max(xs, key=lambda s: len(s))""",
      Seq("array<string>"), "string", "array('aa', 'bbb', 'cc', 'ddd')" -> "bbb"),
    Case("min with key= and a helper def as the key",
      """def keyfn(s):
        |    return len(s)
        |def f(xs):
        |    return min(xs, key=keyfn)""",
      Seq("array<string>"), "string", "array('bbb', 'a', 'cc')" -> "a"),
    Case("lambda bound to a name and called directly",
      """def f(a, b):
        |    g = lambda x, y: x * 10 + y
        |    return g(a, b) + g(b, a)""",
      Seq("bigint", "bigint"), "bigint", "3, 4" -> 77L),
    Case("lambda reads enclosing frame bindings (read-only closure)",
      """def f(xs, n):
        |    return sorted(xs, key=lambda x: abs(x - n))""",
      Seq("array<bigint>", "bigint"), "string", "array(1, 5, 9), 6" -> "[5, 9, 1]"),
    Case("builtin passed as a value (f = abs)",
      """def f(x):
        |    g = abs
        |    return g(x)""",
      Seq("bigint"), "bigint", "-3" -> 3L),
    Case("try/except ValueError around int()",
      """def f(s):
        |    try:
        |        return int(s)
        |    except ValueError:
        |        return -1""",
      Seq("string"), "bigint", "'12'" -> 12L, "'x'" -> -1L),
    Case("except KeyError as e binds str(e) with CPython's repr quoting",
      """def f(d, k):
        |    try:
        |        return d[k]
        |    except KeyError as e:
        |        return 'missing ' + str(e)""",
      Seq("map<string,bigint>", "string"), "string", "map('a', 1), 'a'" -> "1", "map('a', 1), 'b'" -> "missing 'b'"),
    Case("try/except ZeroDivisionError with else and finally",
      """def f(a, b):
        |    try:
        |        r = a % b
        |    except ZeroDivisionError:
        |        return -1
        |    else:
        |        return r
        |    finally:
        |        pass""",
      Seq("bigint", "bigint"), "bigint", "7, 3" -> 1L, "7, 0" -> -1L),
    Case("raise ValueError caught by except as e",
      """def f(x):
        |    try:
        |        if x < 0:
        |            raise ValueError('negative')
        |        return x
        |    except ValueError as e:
        |        return str(e)""",
      Seq("bigint"), "string", "5" -> "5", "-5" -> "negative"),
    Case("module-level mutable global is shared with helper frames",
      """SEEN = []
        |def add(x):
        |    SEEN.append(x)
        |def f(n):
        |    for i in range(n):
        |        add(i * i)
        |    return sum(SEEN)""",
      Seq("bigint"), "bigint", "4" -> 14L, "4" -> 14L),
    Case("rebinding a builtin name shadows it (CPython TypeError)",
      """def f(xs):
        |    sum = 0
        |    try:
        |        return sum(xs)
        |    except Exception:
        |        return -99""",
      Seq("array<bigint>"), "bigint", "array(1, 2)" -> -99L),
    Case("Boolean vs non-numeric equality is False, not an error",
      """def f(x):
        |    return [x == 'x', True == 'x', 1 == True, 0.0 == False]""",
      Seq("boolean"), "string", "true" -> "[False, False, True, True]"),
    Case("escaped quote inside a tuple-assign RHS string",
      """def f():
        |    a, b = 'x\'s, y', 2
        |    return a + str(b)""",
      Seq(), "string", "" -> "x's, y2"),
    Case("bitwise operators with Python precedence",
      """def f(a, b):
        |    return str((a | b, a & b, a ^ b, a << 2, b >> 1))""",
      Seq("bigint", "bigint"), "string", "12, 10" -> "(14, 8, 6, 48, 5)"),
    Case("percent string formatting: s d f width zero-pad hex",
      """def f(k, v, x):
        |    return '%s=%d|%.2f|%05d|%6.1f|%x' % (k, v, x, v, x, 255)""",
      Seq("string", "bigint", "double"), "string", "'n', 42, 3.14159D" -> "n=42|3.14|00042|   3.1|ff"),
    Case("map and filter with lambdas (eager lists)",
      """def f(xs):
        |    return str((sum(map(lambda x: x*x, xs)), list(filter(lambda x: x % 2, range(10)))))""",
      Seq("array<bigint>"), "string", "array(1, 2, 3, 4)" -> "(30, [1, 3, 5, 7, 9])"),
    Case("re.search with groups, start/end; None on miss",
      """import re
        |def f(s):
        |    m = re.search(r'(\d+)-(\d+)', s)
        |    if m:
        |        return int(m.group(1)) + int(m.group(2)) + m.start() + m.end()
        |    return -1""",
      Seq("string"), "bigint", "'ab 12-34 cd'" -> 57L, "'none'" -> -1L),
    Case("re.sub with backreference template",
      """import re
        |def f(s):
        |    return re.sub(r'(\w+)@(\w+)', r'\2 at \1', s)""",
      Seq("string"), "string", "'joe@example and amy@test'" -> "example at joe and test at amy"),
    Case("re.sub with callable replacement",
      """import re
        |def f(s):
        |    return re.sub(r'\d+', lambda m: str(int(m.group(0)) * 2), s)""",
      Seq("string"), "string", "'a1 b22 c333'" -> "a2 b44 c666"),
    Case("re.subn returns (result, count)",
      """import re
        |def f(s):
        |    return str(re.subn(r'a', 'b', s))""",
      Seq("string"), "string", "'banana'" -> "('bbnbnb', 3)"),
    Case("re.findall: no groups, and tuple-per-match with 2 groups",
      """import re
        |def f(s):
        |    return str((re.findall(r'[aeiou]', s), re.findall(r'(\w)(\d)', s)))""",
      Seq("string"), "string", "'hello a1 b2'" -> "(['e', 'o', 'a'], [('a', '1'), ('b', '2')])"),
    Case("re.split, with and without capture groups",
      """import re
        |def f(s):
        |    return str((re.split(r'\s*,\s*', s), re.split(r'(\s+)', s)))""",
      Seq("string"), "string", "'a, b ,c'" -> "(['a', 'b', 'c'], ['a,', ' ', 'b', ' ', ',c'])"),
    Case("re.match anchors at start, search anywhere, fullmatch whole",
      """import re
        |def f(s):
        |    return '%s|%s|%s' % (bool(re.match(r'\d+', s)), bool(re.search(r'\d+', s)), bool(re.fullmatch(r'\w+', s)))""",
      Seq("string"), "string", "'ab12'" -> "False|True|True", "'12ab'" -> "True|True|True"),
    Case("re.IGNORECASE flag through re.sub",
      """import re
        |def f(s):
        |    return re.sub(r'cat', 'dog', s, 0, re.IGNORECASE)""",
      Seq("string"), "string", "'Cat CAT cat'" -> "dog dog dog"),
    Case("keyword arguments on user defs, with defaults",
      """def kw(a, b=2, c=3):
        |    return a*100 + b*10 + c
        |def f(x):
        |    return str((kw(1, c=9), kw(1, 5), kw(a=4)))""",
      Seq("bigint"), "string", "0" -> "(129, 153, 423)"),
    Case("*args parameter and call-site splat",
      """def star(*xs):
        |    return sum(xs) + len(xs)
        |def f(x):
        |    return str((star(1, 2, 3), star(), star(*[5, 6])))""",
      Seq("bigint"), "string", "0" -> "(9, 0, 13)"),
    Case("positional params before *args",
      """def mixed(a, *rest):
        |    return '%s:%s' % (a, list(rest))
        |def f(x):
        |    return mixed(1, 2, 3)""",
      Seq("bigint"), "string", "0" -> "1:[2, 3]"),
    Case("collections.Counter: counts, most_common, missing key is 0",
      """from collections import Counter
        |def f(s):
        |    c = Counter(s.split())
        |    mc = c.most_common(2)
        |    return '%s|%s|%s' % (mc, c['the'], c['zzz'])""",
      Seq("string"), "string", "'the cat and the dog and the bird'" -> "[('the', 3), ('and', 2)]|3|0"),
    Case("collections.defaultdict with int and list factories",
      """from collections import defaultdict
        |def f(words):
        |    d = defaultdict(int)
        |    g = defaultdict(list)
        |    for w in words:
        |        d[w[0]] += 1
        |        g[len(w)].append(w)
        |    return '%s|%s' % (sorted(d.items()), sorted(g.items()))""",
      Seq("array<string>"), "string", "array('apple', 'ant', 'bee', 'cow')" ->
        "[('a', 2), ('b', 1), ('c', 1)]|[(3, ['ant', 'bee', 'cow']), (5, ['apple'])]"),
    Case("class with __init__, methods, attribute mutation, class attr",
      """class Point:
        |    count = 0
        |    def __init__(self, x, y):
        |        self.x = x
        |        self.y = y
        |    def dist2(self):
        |        return self.x * self.x + self.y * self.y
        |    def shift(self, dx, dy=0):
        |        self.x += dx
        |        self.y += dy
        |        return self
        |def f(a, b):
        |    p = Point(a, b)
        |    p.shift(1, dy=2)
        |    return '%s,%s,%s,%s' % (p.x, p.y, p.dist2(), p.count)""",
      Seq("bigint", "bigint"), "string", "3, 4" -> "4,6,52,0"),
    Case("class whose methods call other methods through self",
      """class Acc:
        |    def __init__(self):
        |        self.items = []
        |    def add(self, v):
        |        self.items.append(v)
        |        return self.total()
        |    def total(self):
        |        return sum(self.items)
        |def f(xs):
        |    a = Acc()
        |    r = [a.add(x) for x in xs]
        |    return str(r)""",
      Seq("array<bigint>"), "string", "array(1, 2, 3)" -> "[1, 3, 6]"),
    Case("raw strings keep backslashes literal",
      """def f():
        |    return len(r'\n\t') + len('\n\t')""",
      Seq(), "bigint", "" -> 6L),
    Case("nested def: closure reads the enclosing frame live",
      """def f(n):
        |    base = 10
        |    def scaled(x):
        |        return x * base + n
        |    base = 100
        |    return scaled(3)""",
      Seq("bigint"), "bigint", "7" -> 307L),
    Case("nested def: assignment without nonlocal stays local",
      """def f():
        |    x = 1
        |    def g():
        |        x = 99
        |        return x
        |    r = g()
        |    return [r, x]""",
      Seq(), "string", "" -> "[99, 1]"),
    Case("nonlocal: counter closure mutates the enclosing frame",
      """def f(n):
        |    count = 0
        |    def bump(step):
        |        nonlocal count
        |        count += step
        |        return count
        |    for i in range(n):
        |        bump(i)
        |    return count""",
      Seq("bigint"), "bigint", "5" -> 10L),
    Case("nested def: self-recursion and capture of helper args",
      """def f(n):
        |    def fact(k):
        |        if k <= 1:
        |            return 1
        |        return k * fact(k - 1)
        |    return fact(n)""",
      Seq("bigint"), "bigint", "6" -> 720L),
    Case("closures as values: key= and map over a nested def",
      """def f(xs):
        |    offset = 100
        |    def dist(x):
        |        return abs(x - offset)
        |    return sorted(xs, key=dist)[0]""",
      Seq("array<bigint>"), "bigint", "array(1, 90, 250)" -> 90L),
    Case("**kwargs: unmatched keywords collect into a dict",
      """def tag(name, **attrs):
        |    parts = [name]
        |    for k in sorted(attrs.keys()):
        |        parts.append(k + '=' + str(attrs[k]))
        |    return ','.join(parts)
        |def f():
        |    return tag('a', href=1, rel='x')""",
      Seq(), "string", "" -> "a,href=1,rel=x"),
    Case("**kwargs: declared params still bind by name; empty kwargs is {}",
      """def g(a, b=2, **rest):
        |    return a * 10 + b + len(rest)
        |def f():
        |    return [g(1), g(1, b=5), g(1, c=0, d=0)]""",
      Seq(), "string", "" -> "[12, 15, 14]"),
    Case("single inheritance: method and __init__ lookup through the base",
      """class Animal:
        |    def __init__(self, name):
        |        self.name = name
        |    def greet(self):
        |        return 'I am ' + self.name
        |class Dog(Animal):
        |    def speak(self):
        |        return self.greet() + ', woof'
        |def f():
        |    d = Dog('rex')
        |    return d.speak()""",
      Seq(), "string", "" -> "I am rex, woof"),
    Case("inheritance: child overrides a method; isinstance honors the chain",
      """class Base:
        |    def kind(self):
        |        return 'base'
        |class Child(Base):
        |    def kind(self):
        |        return 'child'
        |def f():
        |    b = Base()
        |    c = Child()
        |    flags = [isinstance(c, Base), isinstance(c, Child), isinstance(b, Child)]
        |    return c.kind() + '/' + b.kind() + '/' + str(flags)""",
      Seq(), "string", "" -> "child/base/[True, True, False]"),
    Case("yield: generator def is iterable; sum/list/for see yields in order",
      """def evens(n):
        |    for i in range(n):
        |        if i % 2 == 0:
        |            yield i
        |def f(n):
        |    total = 0
        |    for v in evens(n):
        |        total += v
        |    return [total, sum(evens(n)), list(evens(n))[-1]]""",
      Seq("bigint"), "string", "10" -> "[20, 20, 8]"),
    Case("yield: bare return ends iteration early",
      """def firstk(xs, k):
        |    n = 0
        |    for x in xs:
        |        if n >= k:
        |            return
        |        yield x
        |        n += 1
        |def f(xs):
        |    return ','.join([str(v) for v in firstk(xs, 2)])""",
      Seq("array<bigint>"), "string", "array(7, 8, 9, 10)" -> "7,8"),
    Case("yield: INFINITE generator with an early-exit zip does not materialize",
      """def naturals():
        |    n = 0
        |    while True:
        |        yield n
        |        n += 1
        |def f(k):
        |    out = []
        |    for p in zip(naturals(), range(k)):
        |        out.append(p[0] * 10 + p[1])
        |    return out""",
      Seq("bigint"), "string", "3" -> "[0, 11, 22]"),
    Case("yield: for-loop break over an infinite generator",
      """def powers():
        |    p = 1
        |    while True:
        |        yield p
        |        p = p * 2
        |def f(limit):
        |    total = 0
        |    for v in powers():
        |        if v > limit:
        |            break
        |        total += v
        |    return total""",
      Seq("bigint"), "bigint", "100" -> 127L),
    Case("yield: no body code runs at call time; a spent generator iterates empty",
      """def f():
        |    log = []
        |    def g():
        |        log.append('ran')
        |        yield 1
        |    h = g()
        |    before = len(log)
        |    first = list(h)
        |    again = list(h)
        |    return [before, len(log), first, again]""",
      Seq(), "string", "" -> "[0, 1, [1], []]"),
    Case("yield: a body exception surfaces at the pull that triggers it",
      """def bad():
        |    yield 1
        |    yield 1 // 0
        |def f():
        |    g = bad()
        |    first = next(g)
        |    try:
        |        second = next(g)
        |    except ZeroDivisionError:
        |        return first + 100
        |    return -1""",
      Seq(), "bigint", "" -> 101L),
    Case("global: a helper mutates a module-level counter",
      """calls = 0
        |def bump():
        |    global calls
        |    calls += 1
        |    return calls
        |def f(n):
        |    for i in range(n):
        |        bump()
        |    return calls""",
      Seq("bigint"), "bigint", "4" -> 4L),
    Case("call-site **d splat expands into keyword arguments",
      """def box(w, h, unit='px'):
        |    return str(w) + 'x' + str(h) + unit
        |def f():
        |    opts = {'h': 2, 'unit': 'em'}
        |    return box(1, **opts)""",
      Seq(), "string", "" -> "1x2em"),
    Case("**d splat merges with explicit keywords into **kwargs",
      """def render(tag, **attrs):
        |    keys = sorted(attrs.keys())
        |    return tag + ':' + ','.join([k + '=' + str(attrs[k]) for k in keys])
        |def f():
        |    d = {'b': 2}
        |    return render('p', a=1, **d)""",
      Seq(), "string", "" -> "p:a=1,b=2"),
    Case("super(): child __init__ extends the base initializer",
      """class Point:
        |    def __init__(self, x, y):
        |        self.x = x
        |        self.y = y
        |class Point3(Point):
        |    def __init__(self, x, y, z):
        |        super().__init__(x, y)
        |        self.z = z
        |def f():
        |    p = Point3(1, 2, 3)
        |    return p.x * 100 + p.y * 10 + p.z""",
      Seq(), "bigint", "" -> 123L),
    Case("super(): overridden method calls the base version",
      """class Greeter:
        |    def greet(self):
        |        return 'hello'
        |class Loud(Greeter):
        |    def greet(self):
        |        return super().greet().upper() + '!'
        |def f():
        |    return Loud().greet()""",
      Seq(), "string", "" -> "HELLO!"),
    Case("inheritance: class attrs flow base-first, child overrides",
      """class A:
        |    limit = 10
        |    tag = 'a'
        |class B(A):
        |    tag = 'b'
        |def f():
        |    x = B()
        |    return str(x.limit) + x.tag""",
      Seq(), "string", "" -> "10b"),
    Case("UnboundLocalError: closure assignment without nonlocal makes the name local",
      """def f2():
        |    c = 0
        |    def inner():
        |        v = c
        |        c = v + 1
        |        return c
        |    try:
        |        return inner()
        |    except UnboundLocalError as e:
        |        return 'UBL: ' + str(e)""",
      Seq(), "string", "" ->
        "UBL: cannot access local variable 'c' where it is not associated with a value"),
    Case("global declaration exempts the name from local classification",
      """tot = 1
        |def f4():
        |    global tot
        |    x = tot
        |    tot = x + 1
        |    return tot""",
      Seq(), "bigint", "" -> 2L),
    Case("nonlocal declaration exempts the name: counter still works",
      """def f():
        |    c = 0
        |    def inc():
        |        nonlocal c
        |        c = c + 1
        |        return c
        |    inc()
        |    inc()
        |    return inc()""",
      Seq(), "bigint", "" -> 3L),
    Case("coroutine: running average via gen.send",
      """def avg():
        |    total = 0.0
        |    n = 0
        |    val = yield None
        |    while True:
        |        total += val
        |        n += 1
        |        val = yield total / n
        |def f():
        |    a = avg()
        |    first = next(a)
        |    r = [a.send(10), a.send(20), a.send(30)]
        |    return [first] + r""",
      Seq(), "string", "" -> "[None, 10.0, 15.0, 20.0]"),
    Case("coroutine: x = yield v receive points, StopIteration at exhaustion",
      """def echo(start):
        |    x = yield start
        |    y = yield x * 2
        |    yield x + y
        |def f():
        |    e = echo(7)
        |    out = [next(e), e.send(3), e.send(4)]
        |    try:
        |        e.send(0)
        |    except StopIteration:
        |        out.append('done')
        |    return out""",
      Seq(), "string", "" -> "[7, 6, 7, 'done']"),
    Case("coroutine: non-None send to a just-started generator is a TypeError",
      """def g7():
        |    yield 1
        |def f():
        |    gg = g7()
        |    try:
        |        gg.send(9)
        |    except TypeError as t:
        |        return str(t)""",
      Seq(), "string", "" -> "can't send non-None value to a just-started generator"),
    Case("bare yield yields None",
      """def g():
        |    yield
        |    yield 2
        |def f():
        |    return list(g())""",
      Seq(), "string", "" -> "[None, 2]"),
    Case("argful super(C, self): base method and base __init__ dispatch",
      """class Shape:
        |    def __init__(self, name):
        |        self.name = name
        |    def describe(self):
        |        return 'shape ' + self.name
        |class Circle(Shape):
        |    def __init__(self, r):
        |        super(Circle, self).__init__('circle')
        |        self.r = r
        |    def describe(self):
        |        return super(Circle, self).describe() + ' r=' + str(self.r)
        |def f():
        |    c = Circle(2)
        |    return c.describe()""",
      Seq(), "string", "" -> "shape circle r=2"),
    Case("functools.reduce: fold, initializer, empty-iterable TypeError",
      """from functools import reduce
        |def f():
        |    a = reduce(lambda a, b: a * b, [1, 2, 3, 4])
        |    b = reduce(lambda a, b: a + b, [], 10)
        |    try:
        |        reduce(lambda a, b: a + b, [])
        |    except TypeError as e:
        |        return [a, b, str(e)]""",
      Seq(), "string", "" ->
        "[24, 10, 'reduce() of empty iterable with no initial value']"),
    Case("itertools.chain flattens mixed iterables incl. strings",
      """from itertools import chain
        |def f():
        |    return list(chain([1, 2], (3, 4), 'ab'))""",
      Seq(), "string", "" -> "[1, 2, 3, 4, 'a', 'b']"),
    Case("itertools.product: two pools and repeat=",
      """from itertools import product
        |def f():
        |    a = list(product([1, 2], 'xy'))
        |    b = list(product([1, 2], repeat=2))
        |    return [a, b]""",
      Seq(), "string", "" ->
        "[[(1, 'x'), (1, 'y'), (2, 'x'), (2, 'y')], [(1, 1), (1, 2), (2, 1), (2, 2)]]"),
    Case("itertools.combinations/permutations use positional semantics",
      """from itertools import combinations, permutations
        |def f():
        |    a = list(combinations('abcd', 2))
        |    b = list(permutations([1, 2, 3], 2))
        |    c = list(combinations([1, 1, 2], 2))
        |    return [a, b, c]""",
      Seq(), "string", "" ->
        ("[[('a', 'b'), ('a', 'c'), ('a', 'd'), ('b', 'c'), ('b', 'd'), ('c', 'd')], " +
        "[(1, 2), (1, 3), (2, 1), (2, 3), (3, 1), (3, 2)], [(1, 1), (1, 2), (1, 2)]]")),
    Case("itertools.accumulate: running sum and custom func",
      """from itertools import accumulate
        |def f():
        |    a = list(accumulate([1, 2, 3, 4]))
        |    b = list(accumulate([1, 2, 3], lambda a, b: a * b))
        |    return [a, b]""",
      Seq(), "string", "" -> "[[1, 3, 6, 10], [1, 2, 6]]"),
    Case("itertools.count/cycle/repeat are lazy; islice bounds them",
      """from itertools import islice, count, cycle, repeat
        |def f():
        |    a = list(islice(count(5), 4))
        |    b = list(islice(count(0, 3), 2, 5))
        |    c = list(repeat('x', 3))
        |    d = list(islice(cycle([1, 2, 3]), 7))
        |    e = list(islice(repeat(9), 2))
        |    return [a, b, c, d, e]""",
      Seq(), "string", "" ->
        "[[5, 6, 7, 8], [6, 9, 12], ['x', 'x', 'x'], [1, 2, 3, 1, 2, 3, 1], [9, 9]]"),
    Case("itertools.groupby groups consecutive runs, identity and key=",
      """from itertools import groupby
        |def f():
        |    a = [(k, list(g)) for k, g in groupby('aabbbca')]
        |    b = [(k, list(g)) for k, g in groupby([1, 2, 4, 3, 5], key=lambda x: x % 2)]
        |    return [a, b]""",
      Seq(), "string", "" ->
        ("[[('a', ['a', 'a']), ('b', ['b', 'b', 'b']), ('c', ['c']), ('a', ['a'])], " +
        "[(1, [1]), (0, [2, 4]), (1, [3, 5])]]")),
    Case("argful super outside a method; wrong-instance TypeError",
      """class Shape:
        |    def __init__(self, name):
        |        self.name = name
        |    def describe(self):
        |        return 'shape ' + self.name
        |class Circle(Shape):
        |    def describe(self):
        |        return 'circle'
        |class Other:
        |    def __init__(self):
        |        self.name = 'o'
        |def f():
        |    c = Circle('x')
        |    a = super(Circle, c).describe()
        |    try:
        |        super(Circle, Other())
        |    except TypeError as t:
        |        return a + '|' + str(t)""",
      Seq(), "string", "" ->
        "shape x|super(type, obj): obj must be an instance or subtype of type")
  )

  cases.foreach { c =>
    test(c.title) {
      val body = c.body.stripMargin
      val fn = entry(body)
      create(fn, c.sig, c.ret, body)
      val row = select(fn, c.calls.map(_._1))
      c.calls.map(_._2).zipWithIndex.foreach { case (want, i) =>
        assert(same(row.get(i), want), s"call ${c.calls(i)._1}: got ${row.get(i)}")
      }
    }
  }

  private val failing = Seq(
    Fails("recursion limit guards the stack",
      """def f(n):
        |    return f(n + 1)""",
      Seq("bigint"), "bigint", "0", "RecursionError"),
    Fails("unmatched except kind propagates",
      """def f(s):
        |    try:
        |        return int(s)
        |    except KeyError:
        |        return -1""",
      Seq("string"), "bigint", "'zz'", "ValueError"),
    Fails("super() outside a method raises like CPython",
      """def f(x):
        |    return super().foo() + x""",
      Seq("bigint"), "bigint", "1", "super"),
    Fails("UnboundLocalError: read before assignment of a function local",
      """g = 10
        |def f1():
        |    y = g
        |    g = 5
        |    return y""",
      Seq(), "bigint", "", "UnboundLocalError: cannot access local variable 'g' where it is not associated with a value"),
    Fails("UnboundLocalError: a for-loop variable is a local",
      """def f3(n):
        |    y = i
        |    for i in range(n):
        |        pass
        |    return y""",
      Seq("bigint"), "bigint", "3", "UnboundLocalError: cannot access local variable 'i'")
  )

  failing.foreach { c =>
    test(c.title) {
      val body = c.body.stripMargin
      val fn = entry(body)
      create(fn, c.sig, c.ret, body)
      val e = intercept[Exception](select(fn, Seq(c.args)))
      assert(messages(e).contains(c.error), messages(e))
    }
  }

  test("entry selection: the def named after the SQL function") {
    val body =
      """def helper(x):
        |    return x + 1
        |
        |def target(x):
        |    return helper(x) * 10""".stripMargin
    create("target", Seq("bigint"), "bigint", body)
    assert(select("target", Seq("4")).getLong(0) == 50L)
    create("helper", Seq("bigint"), "bigint", body)
    assert(select("helper", Seq("4")).getLong(0) == 5L)
  }

  test("an undefined base class is rejected") {
    // CPython's NameError, raised while CREATE FUNCTION execs the module
    val e = intercept[IllegalArgumentException](
      create("f", Seq("bigint"), "bigint", "class C(Base):\n    pass\ndef f(x):\n    return x"))
    assert(e.getMessage.contains("NameError"), e.getMessage)
  }

  test("isinstance with single type, type tuple, and bool-is-int") {
    val body =
      """def f(x):
        |    return '%s|%s|%s' % (isinstance(x, int), isinstance(x, (str, float)), isinstance(x, bool))""".stripMargin
    Seq(("bigint", "3", "True|False|False"), ("double", "2.5D", "False|True|False"),
      ("boolean", "true", "True|False|True")).foreach { case (t, arg, want) =>
      create("f", Seq(t), "string", body)
      assert(select("f", Seq(arg)).getString(0) == want)
    }
  }

  test("yield: next(gen), next(gen, default), StopIteration on exhaustion") {
    val src =
      """def two():
        |    yield 'a'
        |    yield 'b'
        |def f():
        |    g = two()
        |    first = next(g)
        |    second = next(g)
        |    fallback = next(g, 'z')
        |    return first + second + fallback""".stripMargin
    create("f", Seq(), "string", src)
    assert(select("f", Seq("")).getString(0) == "abz")
    val src2 =
      """def one():
        |    yield 1
        |def f():
        |    g = one()
        |    next(g)
        |    return next(g)""".stripMargin
    create("f", Seq(), "bigint", src2)
    val e = intercept[Exception](select("f", Seq("")))
    assert(messages(e).contains("StopIteration"), messages(e))
  }

  test("yield: a generator returned from the UDF stays a generator object") {
    // CPython does not materialize it: a string return is str() of the object
    val src =
      """def f(n):
        |    def squares(k):
        |        for i in range(k):
        |            yield i * i
        |    return squares(n)""".stripMargin
    create("f", Seq("bigint"), "string", src)
    assert(select("f", Seq("4")).getString(0).startsWith("<generator object"))
  }
}
