"""Builds graft and the benchmark harness from source, and reads the JVM
options the program runs with from the repository's build.sbt.

The build calls the Scala compiler among the Spark jars build.sbt's
`unmanagedBase` names, directly (no sbt, no dependency resolution) and compiles `src/main/scala` together with
`perfbench/harness` into `.bench_build/classes`. A stamp of the sources'
hash skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

BUILD = ".bench_build"
SCALA = ["scala-compiler", "scala-library", "scala-reflect"]


def spark_jars(repo):
    """The jar directory build.sbt's `unmanagedBase` names."""
    text = _strip_comments(open(os.path.join(repo, "build.sbt")).read())
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    if not m:
        raise SystemExit("build.sbt: no unmanagedBase := file(...) to take the Spark jars from")
    return m.group(1)


def sources(repo):
    main = sorted(glob.glob(os.path.join(repo, "src/main/scala/**/*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(os.path.dirname(__file__), "harness/*.scala")))
    if not main:
        raise SystemExit(f"no Scala sources under {repo}/src/main/scala")
    return main + own


def classpath(repo):
    return os.pathsep.join([os.path.join(repo, BUILD, "classes"),
                            os.path.join(repo, "src/main/resources"),
                            os.path.join(spark_jars(repo), "*")])


def build(repo):
    """Compile when the sources changed; returns the seconds spent."""
    srcs = sources(repo)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, repo).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(repo, BUILD, "classes.sha256")
    out = os.path.join(repo, BUILD, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return 0.0
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jar_dir = spark_jars(repo)
    jars = [glob.glob(os.path.join(jar_dir, f"{n}-2.13*.jar"))[0] for n in SCALA]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-cp", os.path.join(jar_dir, "*"),
           "-d", out] + srcs
    t = time.time()
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"compile failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return time.time() - t


# --- JVM options from build.sbt -------------------------------------------

_ENV = re.compile(r'\$\{sys\.env\.getOrElse\("([^"]+)",\s*"([^"]*)"\)\}')


def _string_end(text, i):
    """Index just past the string literal whose opening quote is at `i`;
    an s-interpolator's `${...}` may itself hold quoted strings."""
    interp = i > 0 and text[i - 1] == "s"
    j = i + 1
    while text[j] != '"':
        if text[j] == "\\":
            j += 1
        elif interp and text.startswith("${", j):
            depth = 0
            while True:
                if text[j] == '"':
                    j = _string_end(text, j) - 1
                elif text[j] == "{":
                    depth += 1
                elif text[j] == "}":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
        j += 1
    return j + 1


def _strings(text):
    """(interpolated?, body) of each string literal in `text`."""
    out, i = [], 0
    while i < len(text):
        if text[i] == '"':
            j = _string_end(text, i)
            out.append((i > 0 and text[i - 1] == "s", text[i + 1:j - 1]))
            i = j
        else:
            i += 1
    return out


def _strip_comments(text):
    out = []
    for line in text.splitlines():
        # drop a // comment that is not inside a string literal
        i, cut = 0, len(line)
        while i < len(line):
            if line[i] == '"':
                i = _string_end(line, i)
            elif line.startswith("//", i):
                cut = i
                break
            else:
                i += 1
        out.append(line[:cut])
    return "\n".join(out)


def _balanced(text, start):
    """Index just past the expression starting at `start`: ends at a
    newline at bracket depth 0 that is not followed by a continuation."""
    depth, i = 0, start
    while i < len(text):
        ch = text[i]
        if ch == '"':
            i = _string_end(text, i)
            continue
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "\n" and depth == 0:
            rest = text[i + 1:].lstrip()
            if not rest.startswith(("++", ".")):
                return i
        i += 1
    return i


def _literal(flag, body, env):
    if flag:
        body = _ENV.sub(lambda m: env.get(m.group(1), m.group(2)), body)
    return body.encode().decode("unicode_escape")


def _eval(expr, vals, env):
    """Evaluate a `++` chain of Seq(...) literals, val names and
    `.flatMap(p => Seq(...))` over them — the forms build.sbt uses."""
    result = []
    for term in _split_top(expr, "++"):
        term = term.strip()
        fm = re.search(r"\.flatMap\(\s*(\w+)\s*=>\s*Seq\((.*)\)\s*\)\s*$", term, re.S)
        head = term[:fm.start()] if fm else term
        if re.fullmatch(r"\w+", head):
            if head not in vals:
                raise SystemExit(f"build.sbt: javaOptions names unknown value {head}")
            items = _eval(vals[head], vals, env)
        elif head.startswith("Seq("):
            items = [_literal(f, b, env) for f, b in _strings(head)]
        else:
            raise SystemExit(f"build.sbt: cannot read javaOptions term {head[:60]!r}")
        if fm:
            var, body = fm.group(1), fm.group(2)
            templates = _strings(body)
            items = [_literal(f, b, env).replace("$" + var, it)
                     for it in items for f, b in templates]
        result += items
    return result


def _split_top(expr, sep):
    parts, depth, cur, i = [], 0, [], 0
    while i < len(expr):
        ch = expr[i]
        if ch == '"':
            j = _string_end(expr, i)
            cur.append(expr[i:j])
            i = j
            continue
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        if depth == 0 and expr.startswith(sep, i):
            parts.append("".join(cur))
            cur, i = [], i + len(sep)
            continue
        cur.append(ch)
        i += 1
    parts.append("".join(cur))
    return parts


def java_options(repo, env=None):
    """The `javaOptions` build.sbt gives forked runs, evaluated now."""
    env = os.environ if env is None else env
    text = _strip_comments(open(os.path.join(repo, "build.sbt")).read())
    vals = {}
    for m in re.finditer(r"^val (\w+)\s*=\s*", text, re.M):
        vals[m.group(1)] = text[m.end():_balanced(text, m.end())]
    opts = []
    for m in re.finditer(r"^(?:\w+\s*/\s*)?javaOptions\s*(\+\+=|:=|\+=)\s*", text, re.M):
        expr = text[m.end():_balanced(text, m.end())]
        if m.group(1) == "+=":
            expr = f"Seq({expr})"
        opts = (opts if m.group(1) != ":=" else []) + _eval(expr, vals, env)
    if not opts:
        raise SystemExit("build.sbt: no javaOptions found")
    return opts
