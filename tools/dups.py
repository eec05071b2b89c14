#!/usr/bin/env python3
"""Census of restated code bodies in the engine's Scala sources.

Usage: python3 tools/dups.py [--root DIR] [--min SHARE] [--match REGEX]

Splits every .scala file under DIR (default src/main) into bodies: each
declared query, `Q("name", ...) { ... }` or `Q.noOracle("name") { ... }`,
through its last parameter list, and each `def` from its keyword to the
end of its right-hand side. Comments and triple-quoted strings (the oracle
SQL) are removed first. Tokens are words and single punctuation marks;
bodies of fewer than 120 tokens are dropped. A pair scores the share of
the smaller body's distinct 6-token shingles that also occur in the
larger one. A def nested inside another body is a body of its own, but is
not scored against the body that contains it.

Prints the body count, the number of pairs scoring at least SHARE
(default 0.7) and those pairs, highest first. With --match, only bodies
whose name matches REGEX are scored, each is listed with its token count,
and the pairs among them are printed down to SHARE. A query's body is
named by the query, a def's by `File.name`.
"""
import argparse
import itertools
import os
import re
import sys

MIN_TOKENS = 120
SHINGLE = 6

TOKEN = re.compile(r"\w+|[^\w\s]")
OPEN, CLOSE = set("([{"), set(")]}")
# tokens that, at the depth a def starts, end an expression-bodied def
STOPS = {"def", "val", "var", "lazy", "private", "override", "object",
         "class", "trait", "case", "implicit", "final", "protected", "Q"}


def strip(src):
    """Remove comments and triple-quoted strings, keeping other strings."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            i = n if j < 0 else j + 3
            while i < n and src[i] == '"':
                i += 1
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, i = 1, i + 2
            while i < n and depth:
                if src.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif src.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    i += 1
        elif src[i] == '"':
            m = re.compile(r'"(?:\\.|[^"\\\n])*"').match(src, i)
            j = m.end() if m else i + 1
            out.append(src[i:j])
            i = j
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def closing(toks, i):
    """Index of the bracket closing the one opened at toks[i]."""
    depth = 0
    for j in range(i, len(toks)):
        if toks[j] in OPEN:
            depth += 1
        elif toks[j] in CLOSE:
            depth -= 1
            if depth == 0:
                return j
    return len(toks) - 1


def scan(toks, j, stop):
    """Advance from toks[j] to just before the first token at depth 0 for
    which stop(token) holds, or before a bracket closing an outer one."""
    depth = 0
    while j < len(toks):
        t = toks[j]
        if t in OPEN:
            depth += 1
        elif t in CLOSE:
            depth -= 1
            if depth < 0:
                return j - 1
        elif depth == 0 and stop(t):
            return j - 1
        j += 1
    return len(toks) - 1


def def_end(toks, i):
    """Index of the last token of the def starting at toks[i]."""
    sig = scan(toks, i + 1, lambda t: t == "=" or t in STOPS)
    if toks[sig + 1:sig + 2] != ["="]:
        return sig  # abstract: no right-hand side
    j = sig + 2
    if toks[j:j + 1] == ["{"]:
        return closing(toks, j)
    return scan(toks, j, lambda t: t in STOPS or t == ",")


def query_start(toks, i):
    """Index of the `(` before a query's name if toks[i] starts a Q."""
    if toks[i + 1:i + 3] == ["(", '"']:
        return i + 1
    if toks[i + 1:i + 5] == [".", "noOracle", "(", '"']:
        return i + 3
    return None


def bodies(root):
    """(name, file, first, last, tokens) for every body of MIN_TOKENS."""
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            if not f.endswith(".scala"):
                continue
            with open(os.path.join(dirpath, f), encoding="utf-8") as fh:
                toks = TOKEN.findall(strip(fh.read()))
            for i, t in enumerate(toks):
                j = query_start(toks, i) if t == "Q" else None
                if j is not None:
                    name, end = toks[j + 2], closing(toks, j)
                    # the query's function is its next parameter list
                    while toks[end + 1:end + 2] in (["("], ["{"]):
                        end = closing(toks, end + 1)
                elif t == "def" and i + 1 < len(toks):
                    name, end = f"{f[:-len('.scala')]}.{toks[i + 1]}", \
                        def_end(toks, i)
                else:
                    continue
                if end + 1 - i >= MIN_TOKENS:
                    yield name, f, i, end, toks[i:end + 1]


def nested(a, b):
    return a[1] == b[1] and (a[2] <= b[2] <= a[3] or b[2] <= a[2] <= b[3])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--root", default="src/main")
    ap.add_argument("--min", type=float, default=0.7)
    ap.add_argument("--match")
    a = ap.parse_args()
    found = list(bodies(a.root))
    print(f"{len(found)} bodies of at least {MIN_TOKENS} tokens")
    if a.match:
        found = [b for b in found if re.search(a.match, b[0])]
        for b in found:
            print(f"  {len(b[4]):5d} tokens  {b[0]}")
    shingled = [(b, {tuple(b[4][k:k + SHINGLE])
                     for k in range(len(b[4]) - SHINGLE + 1)})
                for b in found]
    pairs = []
    for (x, sx), (y, sy) in itertools.combinations(shingled, 2):
        if nested(x, y):
            continue
        small, large = (sx, sy) if len(x[4]) <= len(y[4]) else (sy, sx)
        share = len(small & large) / len(small)
        if share >= a.min:
            pairs.append((share, x[0], y[0]))
    pairs.sort(key=lambda p: (-p[0], p[1], p[2]))
    print(f"{len(pairs)} pairs at {a.min} or more")
    for share, x, y in pairs:
        print(f"  {share:.2f}  {x}  {y}")


if __name__ == "__main__":
    sys.exit(main())
