#!/usr/bin/env python3
"""Print one JSON line of design-size counts for the library code.

    python3 scripts/design_metrics.py [ROOT]

ROOT defaults to the current directory; the counts cover ROOT/src/main.
They are the trend counts of ROADMAP aim 2 (one default path per operator):

  scala_lines          lines of src/main/**/*.scala, comments included
  graft_conf_keys      distinct "spark.graft.*" string literals
  conf_set_calls       conf.set( calls
  session_builders     SparkSession.builder calls
  cpus_env_reads       "SPARK_GRAFT_CPUS" string literals
  eager_checkpoints    .eagerCheckpoint() / .eagerCheckpointKeepPartitioning()
                       call sites

Every count except scala_lines is taken with comments removed, so a
scaladoc that mentions a call does not count as one.
"""
import json
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


def metrics(root):
    files = []
    for d, _, names in os.walk(os.path.join(root, "src", "main")):
        files += [os.path.join(d, f) for f in names if f.endswith(".scala")]
    lines, code = 0, []
    for path in sorted(files):
        with open(path, encoding="utf-8") as f:
            src = f.read()
        lines += src.count("\n")
        code.append(strip_comments(src))
    text = "\n".join(code)
    return {
        "scala_lines": lines,
        "graft_conf_keys": len(set(re.findall(r'"spark\.graft\.[A-Za-z0-9_.]+"', text))),
        "conf_set_calls": len(re.findall(r"\bconf\.set\(", text)),
        "session_builders": len(re.findall(r"\bSparkSession\.builder\b", text)),
        "cpus_env_reads": text.count('"SPARK_GRAFT_CPUS"'),
        "eager_checkpoints": len(re.findall(r"\.eagerCheckpoint(?:KeepPartitioning)?\(", text)),
    }


if __name__ == "__main__":
    print(json.dumps(metrics(sys.argv[1] if len(sys.argv) > 1 else ".")))
