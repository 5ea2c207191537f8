#!/usr/bin/env python3
"""Size and variant counts of the engine source tree.

Usage: python3 tools/loc.py [repo_root]   (default: the current directory)

Prints, one `name: value` per line:
  - main_loc / test_loc: all lines of the .scala files under src/main and
    src/test that git tracks or would track (untracked, not ignored);
  - ann_engine_loc: all lines of the ANN engine modules (SemanticQ,
    IndexStream, ProductQuantizer and the Encoding core);
  - ann_engine_code: their non-comment lines, with SemanticQ counted only
    above its `// ---- DuckDB oracle` line. A non-comment line is neither
    blank, nor a `//` line, nor inside a `/* ... */` block;
  - variant counts in src/main code (comments stripped): modules using
    ATOMIC_MOVE, modules naming the `_SUCCESS` marker, `aggregate(zip_with`
    folds, `row_number` tails in the ANN engine, and `.collect()` sites
    not read through a `limit(...)` on the same line (the bounded helper
    collects through one);
  - stream_state_code: the non-comment lines of the streaming state
    family (StreamState, DedupStream, DriftStream, MediaStream,
    IndexStream and Sinks);
  - batch_dir_literals: `/batch_id=` and `/base_id=` literals in src/main
    code outside StreamState and Sinks (the modules that own the state
    and output layouts);
  - stream_starts: `writeStream` occurrences in src/main code;
  - media_family_code: the non-comment lines of the media metadata
    family (Multimodal, Media and MediaStream);
  - media_annotations: `withImageMeta(` call sites in src/main code
    (its definition excluded), i.e. the spellings of the media
    annotation;
  - tail_decisions: `headTailAvMeta` uses in src/main code outside its
    definition;
  - full_rereads: `withFullBytes(` call sites in src/main code (its
    definition excluded);
  - collect_bounded_sites: `Iterate.collectBounded(` and
    `Iterate.collectWithin(` call sites in src/main code, i.e. the
    bounded driver collects outside `Iterate` itself;
  - lloyd_loops: `to iters` round loops in src/main code, i.e. the
    spellings of the Lloyd k-means loop;
  - semdedup_stages: the spellings of the SemDeDup pair stage in src/main
    code, i.e. hand-spelled `cosine(...) >= <threshold>` prune predicates
    plus definitions of the `semDedup` operator.
"""
import os
import re
import subprocess
import sys

ENGINE = [
    "src/main/scala/graft/queries/SemanticQ.scala",
    "src/main/scala/graft/streaming/IndexStream.scala",
    "src/main/scala/graft/operators/ProductQuantizer.scala",
    "src/main/scala/graft/operators/Encoding.scala",
]
ORACLE_MARK = "// ---- DuckDB oracle"
STREAMING = "src/main/scala/graft/streaming/"
STREAM_STATE = [STREAMING + n + ".scala" for n in
                ("StreamState", "DedupStream", "DriftStream", "MediaStream",
                 "IndexStream", "Sinks")]
LAYOUT_OWNERS = {STREAMING + "StreamState.scala", STREAMING + "Sinks.scala"}
MEDIA = ["src/main/scala/graft/sources/Multimodal.scala",
         "src/main/scala/graft/queries/Media.scala",
         STREAMING + "MediaStream.scala"]


def tracked(root, prefix):
    out = subprocess.run(["git", "-C", root, "ls-files", "--cached",
                          "--others", "--exclude-standard", prefix],
                         capture_output=True, text=True, check=True).stdout
    return [p for p in out.split() if p.endswith(".scala")]


def read_lines(root, rel):
    with open(os.path.join(root, rel), encoding="utf-8") as f:
        return f.read().splitlines()


def code_lines(lines):
    """The non-comment lines, with trailing `//` comments and inline
    `/* */` spans removed (string contents are not parsed)."""
    out, in_block = [], False
    for line in lines:
        text, rest = "", line
        while rest:
            if in_block:
                end = rest.find("*/")
                if end < 0:
                    rest = ""
                else:
                    rest, in_block = rest[end + 2:], False
            else:
                start = rest.find("/*")
                if start < 0:
                    text, rest = text + rest, ""
                else:
                    text, rest, in_block = text + rest[:start], rest[start + 2:], True
        stripped = text.strip()
        if stripped and not stripped.startswith("//"):
            out.append(text)
    return out


def engine_lines(root, rel):
    lines = read_lines(root, rel)
    if rel.endswith("SemanticQ.scala"):
        for i, line in enumerate(lines):
            if line.strip().startswith(ORACLE_MARK):
                return lines[:i]
    return lines


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    main_files = tracked(root, "src/main")
    test_files = tracked(root, "src/test")
    engine = [p for p in ENGINE if os.path.exists(os.path.join(root, p))]
    counts = {
        "main_loc": sum(len(read_lines(root, p)) for p in main_files),
        "test_loc": sum(len(read_lines(root, p)) for p in test_files),
        "ann_engine_loc": sum(len(read_lines(root, p)) for p in engine),
        "ann_engine_code": sum(len(code_lines(engine_lines(root, p)))
                               for p in engine),
    }
    for p in engine:
        counts["  " + os.path.basename(p)[:-len(".scala")]] = \
            len(code_lines(engine_lines(root, p)))
    code = {p: code_lines(read_lines(root, p)) for p in main_files}
    has = lambda pat: sum(1 for ls in code.values()
                          if any(re.search(pat, l) for l in ls))
    occurs = lambda pat, files: sum(len(re.findall(pat, l))
                                    for p in files for l in code.get(p, []))
    counts["atomic_move_modules"] = has(r"ATOMIC_MOVE")
    counts["success_marker_modules"] = has(r"_SUCCESS")
    counts["aggregate_zip_with_folds"] = occurs(r"aggregate\(\s*zip_with", main_files)
    counts["ann_row_number_tails"] = occurs(r"\brow_number\b", engine)
    counts["bare_collects"] = sum(
        1 for ls in code.values() for l in ls
        for m in re.finditer(r"\.collect\(\)", l)
        if not re.search(r"\.limit\([^)]*\)\s*$", l[:m.start()]))
    counts["stream_state_code"] = sum(
        len(code[p]) for p in STREAM_STATE if p in code)
    for p in STREAM_STATE:
        if p in code:
            # indented past the engine breakdown, so IndexStream gets its own key
            counts["    " + os.path.basename(p)[:-len(".scala")]] = len(code[p])
    counts["batch_dir_literals"] = occurs(
        r"/(batch_id|base_id)=", [p for p in main_files if p not in LAYOUT_OWNERS])
    counts["stream_starts"] = occurs(r"\bwriteStream\b", main_files)
    counts["media_family_code"] = sum(len(code[p]) for p in MEDIA if p in code)
    for p in MEDIA:
        if p in code:
            counts["      " + os.path.basename(p)[:-len(".scala")]] = len(code[p])
    uses = lambda name, call: occurs(
        r"(?<!def )\b" + name + (r"\(" if call else r"\b"), main_files)
    counts["media_annotations"] = uses("withImageMeta", True)
    counts["tail_decisions"] = uses("headTailAvMeta", False)
    counts["full_rereads"] = uses("withFullBytes", True)
    counts["collect_bounded_sites"] = occurs(
        r"\bIterate\.collect(Bounded|Within)\(", main_files)
    counts["lloyd_loops"] = occurs(r"\bto\s+iters\b", main_files)
    counts["semdedup_stages"] = occurs(
        r"\bcosine\(.*\)\s*>=|\bdef\s+semDedup\b", main_files)
    for k, v in counts.items():
        print(f"{k}: {v}")


if __name__ == "__main__":
    main()
