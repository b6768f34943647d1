#!/usr/bin/env python3
"""Print one JSON line of design-size counts for the library code.

    python3 scripts/design_metrics.py [ROOT]

ROOT defaults to the current directory; the counts cover ROOT/src/main.
They are the trend counts of ROADMAP aim 2 (one default path per operator):

  scala_lines          lines of src/main/**/*.scala, comments included
  code_lines           non-blank lines of the same files with comments removed
  graft_conf_keys      distinct "spark.graft.*" string literals; the keys are
                       printed to stderr
  conf_set_calls       conf.set( calls
  session_builders     SparkSession.builder calls
  cpus_env_reads       "SPARK_GRAFT_CPUS" string literals
  eager_checkpoints    .eagerCheckpoint() / .eagerCheckpointKeepPartitioning()
                       / Checkpoints.materialize( call sites
  observations         Observation( sites (observed-metric points)
  broadcast_gates      broadcastable( call sites outside graft/Checkpoints.scala:
                       code that branches on the byte budget itself instead
                       of taking Checkpoints.broadcastWithinBudget's hint; the
                       sites are printed to stderr
  stream_runs          Trigger.AvailableNow( sites: places that start a
                       stream and run it to the end of its input; 1 while
                       every run*Once goes through the one harness in
                       graft/streaming/Streams.scala; the sites are printed
                       to stderr
  unreferenced         top-level objects and object members of src/main whose
                       name appears nowhere else in src/main, src/test or
                       perfbench/scala; the names are printed to stderr
  test_only            top-level objects and object members of src/main whose
                       name appears in src/main only where it is declared,
                       never in perfbench/scala, and at least once in
                       src/test: library surface that only specs reach; the
                       names are printed to stderr

Every count except scala_lines is taken with comments removed, so a
scaladoc that mentions a call does not count as one. unreferenced skips
objects with a `def main` (entry points), GraftExtensions (Spark loads it
by name), and members the compiler calls for the code: override, implicit,
apply/unapply; test_only skips the same names.
"""
import json
from collections import Counter
import os
import re
import sys


def strip_comments(src):
    """Scala source without // and /* */ comments (nested block comments
    too); string literals, triple-quoted ones included, are kept as they are."""
    out = []
    i, n = 0, len(src)
    while i < n:
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # """...""""" ends at the last quote
                j += 1
            out.append(src[i:j])
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append("\n" * src.count("\n", i, j))
            i = j
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


STRING = re.compile(r'"""[\s\S]*?"""+|"(?:\\.|[^"\\\n])*"')
DECL = re.compile(
    r"^\s*((?:(?:private|protected)(?:\[\w+\])?|override|final|implicit|lazy"
    r"|case|sealed|abstract)\s+)*(def|val|var|object|class|trait|type)\s+(\w+)")
LOADED_BY_NAME = {"GraftExtensions"}  # named in spark.sql.extensions, not in code
CALLED_BY_COMPILER = {"apply", "unapply", "unapplySeq"}


class ObjectScope:
    def __init__(self):
        self.has_main = False


def declarations(code):
    """(name, object) of each top-level object and each member declared
    directly in an object body; `object` is the ObjectScope of a declared
    object, else None. `code` has its comments stripped; one declaration per line."""
    code = STRING.sub('""', code)  # a brace in a string opens no scope
    found, scopes, pending, top = [], [], None, None
    for line in code.split("\n"):
        m = DECL.match(line)
        if m:
            mods, kind, name = set((m.group(1) or "").split()), m.group(2), m.group(3)
            owner = scopes[-1] if scopes and isinstance(scopes[-1], ObjectScope) else None
            top = len(scopes) if top is None else top
            obj = ObjectScope() if kind == "object" else None
            if (obj and len(scopes) == top) or (
                    owner and not mods & {"override", "implicit"}
                    and name not in CALLED_BY_COMPILER):
                found.append((name, obj))
            if owner and kind == "def" and name == "main":
                owner.has_main = True
            # the next "{" opens this declaration's body, if it has one
            pending = obj or ("class" if kind in ("class", "trait") else None)
        for ch in line:
            if ch == "{":
                scopes.append(pending or "block")
                pending = None
            elif ch == "}":
                pending = None
                if scopes:
                    scopes.pop()
    return found


def word_counts(root, sub):
    """Occurrences of each word in the comment-stripped .scala files under
    ROOT/sub."""
    uses = Counter()
    for d, _, names in os.walk(os.path.join(root, *sub)):
        for f in names:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    uses.update(re.findall(r"\w+", strip_comments(fh.read())))
    return uses


def declared_names(root, main_code, keep):
    """path:name of each declaration in main_code (path -> stripped source)
    for which keep(name) holds. Objects with a `def main` are entry points,
    and names Spark loads by name are not code references; neither is listed."""
    return [f"{os.path.relpath(path, root)}:{name}"
            for path, code in sorted(main_code.items())
            for name, obj in declarations(code)
            if keep(name) and name not in LOADED_BY_NAME
            and not (obj and obj.has_main)]


def sites(root, main_code, pattern, skip=None):
    """path:line of each match of `pattern` in main_code, outside files
    whose path ends with `skip`."""
    return [f"{os.path.relpath(path, root)}:{code.count(chr(10), 0, m.start()) + 1}"
            for path, code in sorted(main_code.items())
            if not (skip and path.endswith(skip))
            for m in re.finditer(pattern, code)]


def broadcast_gates(root, main_code):
    """path:line of each broadcastable( call in main_code outside
    graft/Checkpoints.scala, the one place the byte budget picks a hint."""
    return sites(root, main_code, r"\bbroadcastable\(", os.path.join("graft", "Checkpoints.scala"))


def stream_runs(root, main_code):
    """path:line of each Trigger.AvailableNow( site in main_code."""
    return sites(root, main_code, r"\bTrigger\.AvailableNow\(")


def metrics(root):
    files = []
    for d, _, names in os.walk(os.path.join(root, "src", "main")):
        files += [os.path.join(d, f) for f in names if f.endswith(".scala")]
    lines, code_lines, code = 0, 0, {}
    for path in sorted(files):
        with open(path, encoding="utf-8") as f:
            src = f.read()
        lines += src.count("\n")
        code[path] = strip_comments(src)
        code_lines += sum(1 for line in code[path].split("\n") if line.strip())
    text = "\n".join(code.values())
    main_uses = Counter(re.findall(r"\w+", text))
    test_uses = word_counts(root, ("src", "test"))
    perf_uses = word_counts(root, ("perfbench", "scala"))
    dead = declared_names(root, code, lambda name:
                          main_uses[name] + test_uses[name] + perf_uses[name] <= 1)
    for name in dead:
        print(f"unreferenced: {name}", file=sys.stderr)
    only_tested = declared_names(root, code, lambda name:
                                 main_uses[name] <= 1 and not perf_uses[name] and test_uses[name])
    for name in only_tested:
        print(f"test_only: {name}", file=sys.stderr)
    gates = broadcast_gates(root, code)
    for site in gates:
        print(f"broadcast_gate: {site}", file=sys.stderr)
    runs = stream_runs(root, code)
    for site in runs:
        print(f"stream_run: {site}", file=sys.stderr)
    keys = sorted(set(re.findall(r'"(spark\.graft\.[A-Za-z0-9_.]+)"', text)))
    for key in keys:
        print(f"graft_conf_key: {key}", file=sys.stderr)
    return {
        "scala_lines": lines,
        "code_lines": code_lines,
        "graft_conf_keys": len(keys),
        "conf_set_calls": len(re.findall(r"\bconf\.set\(", text)),
        "session_builders": len(re.findall(r"\bSparkSession\.builder\b", text)),
        "cpus_env_reads": text.count('"SPARK_GRAFT_CPUS"'),
        "eager_checkpoints": len(re.findall(
            r"\.eagerCheckpoint(?:KeepPartitioning)?\(|\bCheckpoints\.materialize\(", text)),
        "observations": len(re.findall(r"\bObservation\(", text)),
        "unreferenced": len(dead),
        "test_only": len(only_tested),
        "broadcast_gates": len(gates),
        "stream_runs": len(runs),
    }


if __name__ == "__main__":
    print(json.dumps(metrics(sys.argv[1] if len(sys.argv) > 1 else ".")))
