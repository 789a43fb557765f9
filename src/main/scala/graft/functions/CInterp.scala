package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Interpreter for statement-shaped `LANGUAGE c` UDF bodies — loops, local
  * mutation, blocks — the part of the reference's C UDF surface that an
  * expression macro cannot express (the reference compiles arbitrary C via
  * the system compiler and dlopens the result,
  * src/catalog/UDFImplementer.cpp:30,111-112). A C compiler is not enough:
  * a compiled body could only be called from the JVM through a JNI shim or
  * the foreign-function API, which JDK 17 has only as an incubator module;
  * a distributed engine shouldn't ship native code to executors anyway.
  * Expression-shaped bodies (`return x+1;`, guarded returns) keep the
  * Catalyst-macro fast path in
  * [[graft.sqlsurface.UdfSurface.translateCBody]] — codegen'd, optimizer
  * visible; this interpreter is the fallback for everything with control
  * flow, dispatched per-row via [[CUdfExpression]].
  *
  * Value model: every C integer type (int, long, short, char, size_t,
  * int64_t, unsigned …) is a Scala Long; float/double are Double; bool is
  * Boolean; char* / string literals are String. C semantics preserved where
  * they differ from convenience defaults: integer `/` truncates toward
  * zero and `%` follows the dividend (Java Long semantics match C here),
  * mixed int/float arithmetic promotes to double, conditions accept any
  * numeric (nonzero = true), chars are their integer codepoints.
  *
  * Statements: blocks, declarations (multi-declarator, with init; local
  * fixed arrays `int a[n]`, `char buf[n]`, brace initializers, `char
  * s[n] = "lit"`), expression statements (assignment — incl. array-element
  * lvalues — compound assignment, ++/--, calls), if/else, while, do-while,
  * for, break, continue, return (a returned char buffer converts to the
  * SQL string). Expressions: ternary, || &&, bitwise | ^ &, == !=,
  * relational, << >>, + - * / %, unary + - ! ~ ++ -- and casts, postfix
  * ++ -- and string/array subscripts (`s[i]` reads a char as its integer
  * value), calls, literals (decimal/hex ints, floats, chars, strings,
  * true/false), parens.
  * Libc subset: abs/labs/llabs, fabs, sqrt, pow, floor, ceil, exp, log,
  * log2, log10, fmod, fmin, fmax, strlen, strcmp, strncmp, strchr
  * (index-valued), strcpy, strncpy, strcat, sprintf/snprintf (the
  * %[-0][w][.p][l|z]?[diuxXcsfeg%] subset), memset, toupper, tolower,
  * isdigit, isalpha, isspace. No pointers, structs, or heap — local
  * arrays cover the reference corpus' string-building loop idioms without
  * a memory model.
  *
  * A per-call budget of 100M statements/loop iterations turns an infinite
  * loop into a clear error instead of a hung executor — the distributed
  * analog of "the reference would just hang".
  */
object CInterp {

  // ------------------------------------------------------------- AST
  sealed trait Stmt
  case class Block(stmts: Seq[Stmt]) extends Stmt
  /** One declarator: `name`, optional `[size]`, optional `= expr` or
    * `= {e, ...}` brace initializer. `char s[n] = "lit"` is init=Lit(String). */
  case class Declarator(name: String, size: Option[Expr], init: Option[Expr],
      initList: Option[Seq[Expr]])
  case class Decl(isChar: Boolean, names: Seq[Declarator]) extends Stmt
  case class ExprStmt(e: Expr) extends Stmt
  case class If(cond: Expr, t: Stmt, f: Option[Stmt]) extends Stmt
  case class While(cond: Expr, body: Stmt) extends Stmt
  case class DoWhile(body: Stmt, cond: Expr) extends Stmt
  case class For(init: Option[Stmt], cond: Option[Expr], step: Option[Expr],
      body: Stmt) extends Stmt
  case object Break extends Stmt
  case object Continue extends Stmt
  case class Return(e: Option[Expr]) extends Stmt

  sealed trait Expr
  case class Lit(v: Any) extends Expr
  case class Ref(name: String) extends Expr
  case class Un(op: String, e: Expr) extends Expr
  case class Bin(op: String, l: Expr, r: Expr) extends Expr
  case class Assign(name: String, op: String, e: Expr) extends Expr
  case class AssignIdx(arr: Expr, ix: Expr, op: String, e: Expr) extends Expr
  case class IncDec(name: String, delta: Long, post: Boolean) extends Expr
  case class IncDecIdx(arr: Expr, ix: Expr, delta: Long, post: Boolean) extends Expr
  case class Tern(c: Expr, t: Expr, f: Expr) extends Expr
  case class CastTo(toFloat: Boolean, toBool: Boolean, e: Expr) extends Expr
  case class Call(name: String, args: Seq[Expr]) extends Expr
  case class Index(e: Expr, i: Expr) extends Expr // s[i] → char code (C reads a char as its integer value)

  case class CFunc(params: Seq[String], body: Seq[Stmt])

  /** A local fixed array (`int a[n]`, `char buf[n]`): one mutable heap
    * object, reference semantics — the value model's stand-in for C's stack
    * arrays (no pointer arithmetic; indexing and the strcpy/sprintf libc
    * family are the supported access paths). Char arrays follow the NUL
    * convention when read as strings. */
  final class CArr(val a: Array[Any], val isChar: Boolean) {
    override def toString: String = if (isChar) CInterp.cstr(this) else a.mkString("[", ",", "]")
  }

  /** Chars of a char array up to the first NUL (C string convention). */
  def cstr(arr: CArr): String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < arr.a.length) {
      val c = arr.a(i).asInstanceOf[Long]
      if (c == 0L) return sb.toString
      sb.append(c.toChar)
      i += 1
    }
    sb.toString
  }

  // ------------------------------------------------------------- lexer
  private val typeWords = Set("int", "long", "short", "char", "float", "double",
    "bool", "size_t", "int8_t", "int16_t", "int32_t", "int64_t", "uint8_t",
    "uint16_t", "uint32_t", "uint64_t", "unsigned", "signed", "const", "void")

  private def lex(src: String): Vector[String] = {
    val toks = Vector.newBuilder[String]
    var i = 0
    val n = src.length
    while (i < n) {
      val c = src(i)
      if (c.isWhitespace) i += 1
      else if (c == '/' && i + 1 < n && src(i + 1) == '/') {
        while (i < n && src(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < n && src(i + 1) == '*') {
        i += 2; while (i + 1 < n && !(src(i) == '*' && src(i + 1) == '/')) i += 1
        i = math.min(n, i + 2)
      } else if (c.isDigit || (c == '.' && i + 1 < n && src(i + 1).isDigit)) {
        val start = i
        var isFloat = false
        if (c == '0' && i + 1 < n && (src(i + 1) == 'x' || src(i + 1) == 'X')) {
          i += 2; while (i < n && (src(i).isDigit || "abcdefABCDEF".contains(src(i)))) i += 1
        } else {
          while (i < n && src(i).isDigit) i += 1
          if (i < n && src(i) == '.') { isFloat = true; i += 1; while (i < n && src(i).isDigit) i += 1 }
          if (i < n && (src(i) == 'e' || src(i) == 'E')) {
            isFloat = true; i += 1
            if (i < n && (src(i) == '+' || src(i) == '-')) i += 1
            while (i < n && src(i).isDigit) i += 1
          }
        }
        var tok = src.substring(start, i)
        // suffixes: f/F force float; u/U/l/L are width/signedness noise here
        while (i < n && "fFuUlL".contains(src(i))) {
          if (src(i) == 'f' || src(i) == 'F') isFloat = true
          i += 1
        }
        if (isFloat && !tok.exists(ch => ch == '.' || ch == 'e' || ch == 'E')) tok += ".0"
        toks += (if (isFloat || tok.exists(ch => ch == '.' || ((ch == 'e' || ch == 'E') && !tok.startsWith("0x")))) s"#f$tok" else s"#i$tok")
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < n && (src(i).isLetterOrDigit || src(i) == '_')) i += 1
        toks += src.substring(start, i)
      } else if (c == '\'') {
        i += 1
        val ch: Long =
          if (src(i) == '\\') {
            i += 1
            val e = src(i) match {
              case 'n' => '\n'.toLong; case 't' => '\t'.toLong; case 'r' => '\r'.toLong
              case '0' => 0L; case '\\' => '\\'.toLong; case '\'' => '\''.toLong
              case o => o.toLong
            }
            i += 1; e
          } else { val e = src(i).toLong; i += 1; e }
        require(i < n && src(i) == '\'', "unterminated char literal")
        i += 1
        toks += s"#i$ch"
      } else if (c == '"') {
        val sb = new StringBuilder
        i += 1
        while (i < n && src(i) != '"') {
          if (src(i) == '\\' && i + 1 < n) {
            i += 1
            sb += (src(i) match {
              case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
              case '\\' => '\\'; case '"' => '"'; case o => o
            })
          } else sb += src(i)
          i += 1
        }
        require(i < n, "unterminated string literal")
        i += 1
        toks += s"#s${sb.result()}"
      } else {
        val two = if (i + 1 < n) src.substring(i, i + 2) else ""
        if (Set("==", "!=", "<=", ">=", "&&", "||", "<<", ">>", "++", "--",
            "+=", "-=", "*=", "/=", "%=", "&=", "|=", "^=").contains(two)) {
          toks += two; i += 2
        } else { toks += c.toString; i += 1 }
      }
    }
    toks.result()
  }

  // ------------------------------------------------------------- parser
  private class Parser(toks: Vector[String]) {
    private var p = 0
    def peek: String = if (p < toks.length) toks(p) else "<eof>"
    def peek2: String = if (p + 1 < toks.length) toks(p + 1) else "<eof>"
    def next(): String = { val t = peek; p += 1; t }
    def expect(t: String): Unit = {
      val got = next()
      require(got == t, s"C parse: expected '$t', got '$got'")
    }
    def done: Boolean = p >= toks.length

    def stmts(): Seq[Stmt] = {
      val b = Seq.newBuilder[Stmt]
      while (!done && peek != "}") b += stmt()
      b.result()
    }

    private def skipTypeWords(): Seq[String] = {
      val ws = Seq.newBuilder[String]
      while (typeWords.contains(peek)) ws += next()
      while (peek == "*") next() // pointer decorations (char *s)
      ws.result()
    }

    def stmt(): Stmt = peek match {
      case "{" => next(); val b = Block(stmts()); expect("}"); b
      case ";" => next(); Block(Nil)
      case "return" =>
        next()
        if (peek == ";") { next(); Return(None) }
        else { val e = expr(); expect(";"); Return(Some(e)) }
      case "if" =>
        next(); expect("("); val c = expr(); expect(")")
        val t = stmt()
        val f = if (peek == "else") { next(); Some(stmt()) } else None
        If(c, t, f)
      case "while" =>
        next(); expect("("); val c = expr(); expect(")"); While(c, stmt())
      case "do" =>
        next(); val b = stmt(); expect("while"); expect("(")
        val c = expr(); expect(")"); expect(";"); DoWhile(b, c)
      case "for" =>
        next(); expect("(")
        val init = if (peek == ";") { next(); None } else Some(declOrExprStmt())
        val cond = if (peek == ";") None else Some(expr())
        expect(";")
        val step = if (peek == ")") None else Some(expr())
        expect(")")
        For(init, cond, step, stmt())
      case "break" => next(); expect(";"); Break
      case "continue" => next(); expect(";"); Continue
      case t if typeWords.contains(t) => declOrExprStmt()
      case _ => val e = expr(); expect(";"); ExprStmt(e)
    }

    /** `type a = e, b[n], c[] = {..};` or plain expression statement —
      * consumes the `;`. */
    private def declOrExprStmt(): Stmt = {
      if (typeWords.contains(peek)) {
        val words = skipTypeWords()
        val isChar = words.contains("char")
        val ds = Seq.newBuilder[Declarator]
        var more = true
        while (more) {
          while (peek == "*") next()
          val name = next()
          require(name.head.isLetter || name.head == '_', s"C parse: bad declarator '$name'")
          val size = if (peek == "[") {
            next()
            val s = if (peek == "]") None else Some(expr()) // `a[] = {...}` sizes from the initializer
            expect("]"); s.orElse(Some(Lit(-1L)))
          } else None
          var init: Option[Expr] = None
          var initList: Option[Seq[Expr]] = None
          if (peek == "=") {
            next()
            if (peek == "{") {
              next()
              val items = Seq.newBuilder[Expr]
              if (peek != "}") {
                items += assignExpr()
                while (peek == ",") { next(); items += assignExpr() }
              }
              expect("}")
              initList = Some(items.result())
            } else init = Some(assignExpr())
          }
          ds += Declarator(name, size, init, initList)
          if (peek == ",") next() else more = false
        }
        expect(";")
        Decl(isChar, ds.result())
      } else { val e = expr(); expect(";"); ExprStmt(e) }
    }

    // expression grammar, C precedence
    def expr(): Expr = assignExpr()

    private val compoundOps = Set("+=", "-=", "*=", "/=", "%=", "&=", "|=", "^=")

    private def assignExpr(): Expr = {
      // general lvalue form: parse the ternary, then turn a trailing
      // (op)= into an assignment if the lhs is a variable or an index
      val lhs = ternary()
      if (peek == "=" || compoundOps.contains(peek)) {
        val op = next().stripSuffix("=")
        val rhs = assignExpr()
        lhs match {
          case Ref(n) => Assign(n, op, rhs)
          case Index(a, i) => AssignIdx(a, i, op, rhs)
          case _ => throw new IllegalArgumentException(
            s"C parse: assignment target must be a variable or array element")
        }
      } else lhs
    }

    private def ternary(): Expr = {
      val c = orExpr()
      if (peek == "?") { next(); val t = assignExpr(); expect(":"); Tern(c, t, assignExpr()) }
      else c
    }
    private def orExpr(): Expr = leftAssoc(Seq("||"), () => andExpr())
    private def andExpr(): Expr = leftAssoc(Seq("&&"), () => bitOr())
    private def bitOr(): Expr = leftAssoc(Seq("|"), () => bitXor())
    private def bitXor(): Expr = leftAssoc(Seq("^"), () => bitAnd())
    private def bitAnd(): Expr = leftAssoc(Seq("&"), () => eqExpr())
    private def eqExpr(): Expr = leftAssoc(Seq("==", "!="), () => relExpr())
    private def relExpr(): Expr = leftAssoc(Seq("<", "<=", ">", ">="), () => shiftExpr())
    private def shiftExpr(): Expr = leftAssoc(Seq("<<", ">>"), () => addExpr())
    private def addExpr(): Expr = leftAssoc(Seq("+", "-"), () => mulExpr())
    private def mulExpr(): Expr = leftAssoc(Seq("*", "/", "%"), () => unary())

    private def leftAssoc(ops: Seq[String], sub: () => Expr): Expr = {
      var l = sub()
      while (ops.contains(peek)) { val op = next(); l = Bin(op, l, sub()) }
      l
    }

    private def unary(): Expr = peek match {
      case "-" => next(); Un("-", unary())
      case "+" => next(); unary()
      case "!" => next(); Un("!", unary())
      case "~" => next(); Un("~", unary())
      case "++" => next(); incDecOf(unary(), 1L, post = false)
      case "--" => next(); incDecOf(unary(), -1L, post = false)
      case "(" if typeWords.contains(peek2) =>
        // (type) cast
        next()
        val words = Seq.newBuilder[String]
        while (typeWords.contains(peek)) words += next()
        while (peek == "*") next()
        expect(")")
        val ws = words.result()
        CastTo(ws.exists(w => w == "float" || w == "double"), ws.contains("bool"), unary())
      case _ => postfix()
    }

    private def incDecOf(e: Expr, delta: Long, post: Boolean): Expr = e match {
      case Ref(n) => IncDec(n, delta, post)
      case Index(a, i) => IncDecIdx(a, i, delta, post)
      case _ => throw new IllegalArgumentException(
        "C parse: ++/-- needs a variable or array element")
    }

    private def postfix(): Expr = {
      var e = primary()
      var loop = true
      while (loop) peek match {
        case "++" => next(); e = incDecOf(e, 1L, post = true)
        case "--" => next(); e = incDecOf(e, -1L, post = true)
        case "[" => next(); val ix = expr(); expect("]"); e = Index(e, ix)
        case _ => loop = false
      }
      e
    }

    private def primary(): Expr = {
      val t = next()
      if (t == "(") { val e = expr(); expect(")"); e }
      else if (t.startsWith("#i")) Lit(java.lang.Long.decode(t.drop(2)).longValue())
      else if (t.startsWith("#f")) Lit(t.drop(2).toDouble)
      else if (t.startsWith("#s")) Lit(t.drop(2))
      else if (t == "true") Lit(true)
      else if (t == "false") Lit(false)
      else if (t == "NULL") Lit(null)
      else if (peek == "(") {
        next()
        val args = Seq.newBuilder[Expr]
        if (peek != ")") {
          args += assignExpr()
          while (peek == ",") { next(); args += assignExpr() }
        }
        expect(")")
        Call(t, args.result())
      } else {
        require(t.head.isLetter || t.head == '_', s"C parse: unexpected token '$t'")
        Ref(t)
      }
    }
  }

  def parse(params: Seq[String], body: String): CFunc = {
    val p = new Parser(lex(body))
    val ss = p.stmts()
    require(p.done, s"C parse: trailing tokens after statements")
    require(ss.nonEmpty, "C UDF body is empty")
    CFunc(params, ss)
  }

  // ------------------------------------------------------------- eval
  private case class ReturnEx(v: Any) extends RuntimeException { override def fillInStackTrace(): Throwable = this }
  private case object BreakEx extends RuntimeException { override def fillInStackTrace(): Throwable = this }
  private case object ContinueEx extends RuntimeException { override def fillInStackTrace(): Throwable = this }

  private final val Budget = 100000000L

  private class Env(parent: Option[Env]) {
    private val vars = mutable.HashMap.empty[String, Any]
    def declare(n: String, v: Any): Unit = vars(n) = v
    def set(n: String, v: Any): Unit =
      if (vars.contains(n)) vars(n) = v
      else parent match {
        case Some(p) => p.set(n, v)
        case None => throw new IllegalArgumentException(s"C: assignment to undeclared variable '$n'")
      }
    def get(n: String): Any =
      vars.getOrElse(n, parent match {
        case Some(p) => p.get(n)
        case None => throw new IllegalArgumentException(s"C: undeclared variable '$n'")
      })
  }

  def call(fn: CFunc, args: Seq[Any]): Any = {
    require(args.length == fn.params.length,
      s"C UDF: expected ${fn.params.length} args, got ${args.length}")
    val root = new Env(None)
    fn.params.zip(args).foreach { case (n, v) => root.declare(n, v) }
    var budget = Budget
    def tick(): Unit = {
      budget -= 1
      if (budget <= 0) throw new IllegalArgumentException(
        "C UDF exceeded its execution budget (infinite loop?)")
    }

    def truthy(v: Any): Boolean = v match {
      case b: Boolean => b
      case l: Long => l != 0L
      case d: Double => d != 0.0
      case s: String => s != null
      case a: CArr => a != null // arrays decay to a non-null pointer
      case null => false
      case o => throw new IllegalArgumentException(s"C: non-scalar condition $o")
    }
    def asLong(v: Any): Long = v match {
      case l: Long => l
      case d: Double => d.toLong
      case b: Boolean => if (b) 1L else 0L
      case o => throw new IllegalArgumentException(s"C: expected integer, got $o")
    }
    def asDouble(v: Any): Double = v match {
      case l: Long => l.toDouble
      case d: Double => d
      case b: Boolean => if (b) 1.0 else 0.0
      case o => throw new IllegalArgumentException(s"C: expected number, got $o")
    }
    def isFloat(v: Any): Boolean = v.isInstanceOf[Double]

    def arith(op: String, a: Any, b: Any): Any =
      if (isFloat(a) || isFloat(b)) {
        val (x, y) = (asDouble(a), asDouble(b))
        op match {
          case "+" => x + y; case "-" => x - y; case "*" => x * y
          case "/" => x / y; case "%" => x % y
          case _ => throw new IllegalArgumentException(s"C: bad float op $op")
        }
      } else (a, b) match {
        case (x: String, y: String) if op == "+" => x + y // convenience concat
        case _ =>
          val (x, y) = (asLong(a), asLong(b))
          op match {
            case "+" => x + y; case "-" => x - y; case "*" => x * y
            case "/" =>
              if (y == 0L) throw new ArithmeticException("C: integer division by zero")
              x / y
            case "%" =>
              if (y == 0L) throw new ArithmeticException("C: integer modulo by zero")
              x % y
            case _ => throw new IllegalArgumentException(s"C: bad int op $op")
          }
      }

    def compare(op: String, a: Any, b: Any): Boolean = (a, b) match {
      case (x: String, y: String) =>
        val c = x.compareTo(y)
        op match {
          case "==" => c == 0; case "!=" => c != 0; case "<" => c < 0
          case "<=" => c <= 0; case ">" => c > 0; case ">=" => c >= 0
        }
      case _ =>
        if (isFloat(a) || isFloat(b)) {
          val (x, y) = (asDouble(a), asDouble(b))
          op match {
            case "==" => x == y; case "!=" => x != y; case "<" => x < y
            case "<=" => x <= y; case ">" => x > y; case ">=" => x >= y
          }
        } else {
          val (x, y) = (asLong(a), asLong(b))
          op match {
            case "==" => x == y; case "!=" => x != y; case "<" => x < y
            case "<=" => x <= y; case ">" => x > y; case ">=" => x >= y
          }
        }
    }

    def callFn(name: String, vs: Seq[Any]): Any = (name, vs) match {
      case ("abs" | "labs" | "llabs", Seq(v)) =>
        if (isFloat(v)) math.abs(asDouble(v)) else math.abs(asLong(v))
      case ("fabs" | "fabsf", Seq(v)) => math.abs(asDouble(v))
      case ("sqrt" | "sqrtf", Seq(v)) => math.sqrt(asDouble(v))
      case ("pow" | "powf", Seq(a, b)) => math.pow(asDouble(a), asDouble(b))
      case ("floor", Seq(v)) => math.floor(asDouble(v))
      case ("ceil", Seq(v)) => math.ceil(asDouble(v))
      case ("exp", Seq(v)) => math.exp(asDouble(v))
      case ("log", Seq(v)) => math.log(asDouble(v))
      case ("log2", Seq(v)) => math.log(asDouble(v)) / math.log(2.0)
      case ("log10", Seq(v)) => math.log10(asDouble(v))
      case ("fmod", Seq(a, b)) => asDouble(a) % asDouble(b)
      case ("fmin", Seq(a, b)) => math.min(asDouble(a), asDouble(b))
      case ("fmax", Seq(a, b)) => math.max(asDouble(a), asDouble(b))
      case ("strlen", Seq(s)) => asStr(s).length.toLong
      case ("strcmp", Seq(a, b)) => math.signum(asStr(a).compareTo(asStr(b))).toLong
      case ("strncmp", Seq(a, b, n)) =>
        val k = asLong(n).toInt
        math.signum(asStr(a).take(k).compareTo(asStr(b).take(k))).toLong
      case ("strcpy", Seq(d: CArr, s)) => strInto(d, 0, asStr(s))
      case ("strncpy", Seq(d: CArr, s, n)) => strInto(d, 0, asStr(s).take(asLong(n).toInt))
      case ("strcat", Seq(d: CArr, s)) => strInto(d, cstr(d).length, asStr(s))
      case ("strchr", Seq(s, c)) => // C returns a pointer; the useful scalar is the index (-1 = NULL)
        asStr(s).indexOf(asLong(c).toInt.toChar).toLong
      case ("sprintf", d +: fmt +: rest) =>
        val out = cFormat(asStr(fmt), rest)
        d match {
          case arr: CArr => strInto(arr, 0, out); out.length.toLong
          case o => throw new IllegalArgumentException(s"C: sprintf target must be a char array, got $o")
        }
      case ("snprintf", d +: n +: fmt +: rest) =>
        val out = cFormat(asStr(fmt), rest)
        val cap = asLong(n).toInt
        d match {
          case arr: CArr =>
            strInto(arr, 0, out.take(math.max(0, cap - 1)))
            out.length.toLong // C: would-have-written length
          case o => throw new IllegalArgumentException(s"C: snprintf target must be a char array, got $o")
        }
      case ("memset", Seq(d: CArr, c, n)) =>
        val v = asLong(c); val k = asLong(n).toInt
        require(k >= 0 && k <= d.a.length, s"C: memset of $k over length ${d.a.length}")
        var i = 0; while (i < k) { d.a(i) = v; i += 1 }
        d
      case ("toupper", Seq(v)) => Character.toUpperCase(asLong(v).toInt).toLong
      case ("tolower", Seq(v)) => Character.toLowerCase(asLong(v).toInt).toLong
      case ("isdigit", Seq(v)) => if (Character.isDigit(asLong(v).toInt)) 1L else 0L
      case ("isalpha", Seq(v)) => if (Character.isLetter(asLong(v).toInt)) 1L else 0L
      case ("isspace", Seq(v)) => if (Character.isWhitespace(asLong(v).toInt)) 1L else 0L
      case _ => throw new IllegalArgumentException(s"C: unsupported function '$name'/${vs.length}")
    }

    def MaxArr = 1 << 20 // bounds a runaway `int a[hugeness]` before it OOMs an executor

    def newArr(n: Int, isChar: Boolean): CArr = {
      require(n >= 0 && n <= MaxArr, s"C: array size $n out of range [0, $MaxArr]")
      new CArr(Array.fill[Any](n)(0L), isChar)
    }

    /** Value for one declarator: scalar default 0, `= expr`, array with
      * optional brace/string initializer (`char s[8] = "hi"` NUL-pads). */
    def declValue(d: Declarator, isChar: Boolean, env: Env): Any = d.size match {
      case None => d.init.map(ev(_, env)).getOrElse(0L)
      case Some(sz) =>
        val items: Seq[Any] = d.initList.map(_.map(ev(_, env)))
          .orElse(d.init.map(e => ev(e, env) match {
            case s: String => s.map(_.toLong) :+ 0L // string initializer incl. NUL
            case o => throw new IllegalArgumentException(s"C: bad array initializer $o")
          })).getOrElse(Nil)
        val n = ev(sz, env) match {
          case -1L => items.length // `a[] = {...}`: size from the initializer
          case v => asLong(v).toInt
        }
        val arr = newArr(n, isChar)
        require(items.length <= n, s"C: ${items.length} initializers for array of $n")
        items.zipWithIndex.foreach { case (v, i) => arr.a(i) = v }
        arr
    }

    /** A C "string" in this model: a String param/literal or a char array. */
    def asStr(v: Any): String = v match {
      case s: String => s
      case a: CArr if a.isChar => cstr(a)
      case o => throw new IllegalArgumentException(s"C: expected a string, got $o")
    }

    def idx(arr: CArr, i: Long): Int = {
      require(i >= 0 && i < arr.a.length,
        s"C: array index $i out of bounds (length ${arr.a.length})")
      i.toInt
    }

    /** sprintf-lite: %[-0][width][.prec][l|ll|z|h]*[diuxXcsfeg%], mapped to
      * java.util.Formatter (Locale.ROOT). The reference compiles real libc
      * sprintf; this covers the string-building subset UDF bodies use. */
    def cFormat(fmt: String, args: Seq[Any]): String = {
      val out = new java.lang.StringBuilder
      var i = 0; var ai = 0
      def nextArg(): Any = {
        require(ai < args.length, s"C: sprintf needs more arguments (format '$fmt')")
        ai += 1; args(ai - 1)
      }
      while (i < fmt.length) {
        val c = fmt.charAt(i)
        if (c != '%') { out.append(c); i += 1 }
        else if (i + 1 < fmt.length && fmt.charAt(i + 1) == '%') { out.append('%'); i += 2 }
        else {
          val start = i; i += 1
          while (i < fmt.length && "-+ 0123456789.".indexOf(fmt.charAt(i)) >= 0) i += 1
          while (i < fmt.length && "hlz".indexOf(fmt.charAt(i)) >= 0) i += 1
          require(i < fmt.length, s"C: dangling %% in format '$fmt'")
          val conv = fmt.charAt(i); i += 1
          val spec = fmt.substring(start, i)
            .replaceAll("[hlz]", "") // length modifiers are noise on Long
          val j = conv match {
            case 'd' | 'i' | 'u' => spec.dropRight(1) + "d"
            case 'x' | 'X' | 'o' => spec.dropRight(1) + conv
            case 'c' => spec.dropRight(1) + "c"
            case 's' => spec
            case 'f' | 'e' | 'E' | 'g' | 'G' => spec
            case o => throw new IllegalArgumentException(s"C: unsupported format %$o")
          }
          val arg: Any = conv match {
            case 'd' | 'i' | 'u' | 'x' | 'X' | 'o' => Long.box(asLong(nextArg()))
            case 'c' => Char.box(asLong(nextArg()).toChar)
            case 's' => asStr(nextArg())
            case _ => Double.box(asDouble(nextArg()))
          }
          out.append(String.format(java.util.Locale.ROOT, j, arg))
        }
      }
      out.toString
    }

    /** Copy `s` + NUL into `dst` starting at `at` (bounds-checked). */
    def strInto(dst: CArr, at: Int, s: String): CArr = {
      require(dst.isChar, "C: str* target must be a char array")
      require(at + s.length < dst.a.length,
        s"C: string of ${s.length} chars overflows char[${dst.a.length}] at $at")
      var i = 0
      while (i < s.length) { dst.a(at + i) = s.charAt(i).toLong; i += 1 }
      dst.a(at + s.length) = 0L
      dst
    }

    def ev(e: Expr, env: Env): Any = { tick(); e match {
      case Lit(v) => v
      case Ref(n) => env.get(n)
      case Un("-", x) => val v = ev(x, env); if (isFloat(v)) -asDouble(v) else -asLong(v)
      case Un("!", x) => !truthy(ev(x, env))
      case Un("~", x) => ~asLong(ev(x, env))
      case Un(op, _) => throw new IllegalArgumentException(s"C: bad unary $op")
      case Bin("&&", l, r) => truthy(ev(l, env)) && truthy(ev(r, env))
      case Bin("||", l, r) => truthy(ev(l, env)) || truthy(ev(r, env))
      case Bin(op @ ("==" | "!=" | "<" | "<=" | ">" | ">="), l, r) =>
        compare(op, ev(l, env), ev(r, env))
      case Bin("&", l, r) => asLong(ev(l, env)) & asLong(ev(r, env))
      case Bin("|", l, r) => asLong(ev(l, env)) | asLong(ev(r, env))
      case Bin("^", l, r) => asLong(ev(l, env)) ^ asLong(ev(r, env))
      case Bin("<<", l, r) => asLong(ev(l, env)) << asLong(ev(r, env))
      case Bin(">>", l, r) => asLong(ev(l, env)) >> asLong(ev(r, env))
      case Bin(op, l, r) => arith(op, ev(l, env), ev(r, env))
      case Assign(n, "", rhs) => val v = ev(rhs, env); env.set(n, v); v
      case Assign(n, op, rhs) =>
        val v = op match {
          case "&" => asLong(env.get(n)) & asLong(ev(rhs, env))
          case "|" => asLong(env.get(n)) | asLong(ev(rhs, env))
          case "^" => asLong(env.get(n)) ^ asLong(ev(rhs, env))
          case o => arith(o, env.get(n), ev(rhs, env))
        }
        env.set(n, v); v
      case IncDec(n, d, post) =>
        val old = env.get(n)
        val nv = if (isFloat(old)) asDouble(old) + d.toDouble else asLong(old) + d
        env.set(n, nv)
        if (post) old else nv
      case Tern(c, t, f) => if (truthy(ev(c, env))) ev(t, env) else ev(f, env)
      case CastTo(toF, toB, x) =>
        val v = ev(x, env)
        if (toB) truthy(v) else if (toF) asDouble(v) else asLong(v)
      case Call(n, as) => callFn(n, as.map(ev(_, env)))
      case Index(a, ix) => ev(a, env) match {
        case s: String =>
          val i = asLong(ev(ix, env)).toInt
          if (i < 0 || i >= s.length) throw new IllegalArgumentException(
            s"C: string index $i out of bounds (length ${s.length})")
          s.charAt(i).toLong
        case arr: CArr => arr.a(idx(arr, asLong(ev(ix, env))))
        case o => throw new IllegalArgumentException(s"C: cannot index $o")
      }
      case IncDecIdx(a, ix, d, post) => ev(a, env) match {
        case arr: CArr =>
          val i = idx(arr, asLong(ev(ix, env)))
          val old = arr.a(i)
          val nv: Any =
            if (isFloat(old)) asDouble(old) + d.toDouble else asLong(old) + d
          arr.a(i) = nv
          if (post) old else nv
        case o => throw new IllegalArgumentException(s"C: cannot ++/-- index $o")
      }
      case AssignIdx(a, ix, op, rhs) => ev(a, env) match {
        case arr: CArr =>
          val i = idx(arr, asLong(ev(ix, env)))
          val v = op match {
            case "" => ev(rhs, env)
            case "&" => asLong(arr.a(i)) & asLong(ev(rhs, env))
            case "|" => asLong(arr.a(i)) | asLong(ev(rhs, env))
            case "^" => asLong(arr.a(i)) ^ asLong(ev(rhs, env))
            case o => arith(o, arr.a(i), ev(rhs, env))
          }
          arr.a(i) = v; v
        case o => throw new IllegalArgumentException(s"C: cannot index-assign $o")
      }
    }}

    def exec(s: Stmt, env: Env): Unit = { tick(); s match {
      case Block(ss) => val inner = new Env(Some(env)); ss.foreach(exec(_, inner))
      case Decl(isChar, ds) => ds.foreach { d =>
        env.declare(d.name, declValue(d, isChar, env)) }
      case ExprStmt(e) => ev(e, env)
      case If(c, t, f) =>
        if (truthy(ev(c, env))) exec(t, env) else f.foreach(exec(_, env))
      case While(c, b) =>
        while (truthy(ev(c, env))) {
          try exec(b, env)
          catch { case BreakEx => return; case ContinueEx => () }
        }
      case DoWhile(b, c) =>
        var go = true
        while (go) {
          try exec(b, env)
          catch { case BreakEx => return; case ContinueEx => () }
          go = truthy(ev(c, env))
        }
      case For(init, cond, step, b) =>
        val scope = new Env(Some(env))
        init.foreach(exec(_, scope))
        while (cond.forall(c => truthy(ev(c, scope)))) {
          try exec(b, scope)
          catch { case BreakEx => return; case ContinueEx => () }
          step.foreach(ev(_, scope))
        }
      case Break => throw BreakEx
      case Continue => throw ContinueEx
      case Return(e) => throw ReturnEx(e.map(ev(_, env)).orNull)
    }}

    try {
      fn.body.foreach(exec(_, root))
      null // fell off the end without a return — C UB; SQL null is the sane map
    } catch {
      case ReturnEx(v) => v
      case BreakEx | ContinueEx =>
        throw new IllegalArgumentException("C: break/continue outside a loop")
    }
  }
}

/** Per-row bridge for interpreter-path C UDFs (the statement-shaped bodies).
  * Null in → null out, like the reference's generated null checks. */
case class CUdfExpression(fn: CInterp.CFunc, retType: DataType,
    children: Seq[Expression]) extends Expression with CodegenFallback {

  override def nullable: Boolean = true
  override def dataType: DataType = retType

  override def eval(input: InternalRow): Any = {
    val raw = children.map(_.eval(input))
    if (raw.contains(null)) return null
    val args = raw.zip(children).map { case (v, c) => toC(v, c.dataType) }
    fromC(CInterp.call(fn, args))
  }

  private def toC(v: Any, dt: DataType): Any = dt match {
    case StringType => v.asInstanceOf[UTF8String].toString
    case IntegerType => v.asInstanceOf[Int].toLong
    case ShortType => v.asInstanceOf[Short].toLong
    case ByteType => v.asInstanceOf[Byte].toLong
    case FloatType => v.asInstanceOf[Float].toDouble
    case BooleanType => v.asInstanceOf[Boolean]
    case _ => v
  }

  private def fromC(v: Any): Any = (v, retType) match {
    case (null, _) => null
    case (l: Long, IntegerType) => l.toInt
    case (d: Double, IntegerType) => d.toInt
    case (l: Long, LongType) => l
    case (d: Double, LongType) => d.toLong
    case (l: Long, ShortType) => l.toShort
    case (l: Long, DoubleType) => l.toDouble
    case (d: Double, DoubleType) => d
    case (l: Long, FloatType) => l.toFloat
    case (d: Double, FloatType) => d.toFloat
    case (b: Boolean, BooleanType) => b
    case (l: Long, BooleanType) => l != 0L
    case (s: String, StringType) => UTF8String.fromString(s)
    case (a: CInterp.CArr, StringType) if a.isChar =>
      UTF8String.fromString(CInterp.cstr(a)) // `return buf;` from a char-buffer body
    case (b: Boolean, IntegerType) => if (b) 1 else 0
    case (b: Boolean, LongType) => if (b) 1L else 0L
    case other =>
      throw new IllegalArgumentException(s"C UDF: cannot convert $other to $retType")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}
