"""Deterministic Go-benchmark stdout trees and the publish output they must give.

A tree has one dir per day, `DD-MM-YYYY/cockroach/<pkg>/<name>.test.stdout`,
over the 12 reference packages, in the layout the reference generator walks.
Every day also carries the edge cases the ingest has to get right:

- FAIL lines, both `--- FAIL: ...` and a `Benchmark...` line holding `FAIL`;
- a test run twice in one file (the later line wins);
- a second file for one package, sorted before or after the first one
  (the file with the greater path wins);
- a package outside the reference list;
- a file that does not match `*test.stdout`.

The root also holds a dir whose name is not a date. The model of the output is
computed here from the generated values, with no Spark: one
`<pkg>/<test>.json` body per series, `{"DD-MM-YYYY":{"N":..,"A":..,"B":..,"M":..}}`
with sorted keys, and the `{pkg: [tests]}` catalog.
"""
import datetime
import json
import os
import random
import re

PACKAGES = ["sql", "sql/parser", "kv", "roachpb", "storage", "storage/engine",
            "util/cache", "util/caller", "util/decimal", "util/encoding",
            "util/interval", "util/log"]
EPOCH = datetime.date(2015, 1, 1)
WORDS = ["Bank", "Scan", "Insert", "Update", "Select", "Join", "Sort", "Hash",
         "Encode", "Decode", "Parse", "Cache", "Get", "Put", "Merge", "Split",
         "Batch", "Txn", "Range", "Index", "Log", "Interval", "Decimal", "Caller"]
BAD_DATE_FILE = "not-a-date/cockroach/sql/sql.test.stdout"


def date_dir(day):
    """Dir name of day `day`, counted from 01-01-2015."""
    return (EPOCH + datetime.timedelta(days=day)).strftime("%d-%m-%Y")


def test_names(pkg, n):
    """The `n` test names of `pkg`. Names, and each test's stats profile, are
    the same on every seed: the seed changes the measured values and which
    tests run each day, not the shape of the work."""
    rng = random.Random(f"names:{pkg}")
    names = set()
    while len(names) < n:
        names.add(f"Benchmark{rng.choice(WORDS)}{rng.choice(WORDS)}"
                  f"{rng.randrange(1000)}-{rng.choice((1, 4, 8))}")
    return sorted(names)


def go_float(x):
    """A float as Go's json.Marshal renders it: integral values without `.0`."""
    return str(int(x)) if x == int(x) else repr(x)


def stats_json(s):
    n, a, b, m = s
    return f'{{"N":{n},"A":{a},"B":{b},"M":{go_float(m)}}}'


class Tree:
    """The days of one seed. `day(i)` gives the files of day i and, for the
    model, the winning (N, A, B, M) of every (pkg, test) that day."""

    def __init__(self, seed, tests_per_pkg):
        self.seed = seed
        self.names = {p: test_names(p, tests_per_pkg) for p in PACKAGES}
        self.base = {}  # per test: typical ns/op, B/op, allocs/op, MB/s (0 if absent)
        for name in sorted({n for ns in self.names.values() for n in ns}):
            r = random.Random(f"base:{name}")
            mem = r.random() < 0.8
            self.base[name] = (r.randrange(50, 5_000_000),
                               r.randrange(16, 200_000) if mem else 0,
                               r.randrange(1, 3000) if mem else 0,
                               r.uniform(1.0, 900.0) if r.random() < 0.25 else 0.0)

    def _line(self, rng, name, stats):
        n, a, b, m = stats
        line = f"{name} \t{rng.randrange(1, 5) * 1000:8d}\t{n:10d} ns/op"
        if b or a:
            line += f"\t{b:8d} B/op\t{a:6d} allocs/op"
        if m:
            line += f"\t{m:8.2f} MB/s"
        return line

    def _stats(self, rng, name):
        ns, b, a, m = self.base[name]
        return (max(1, int(ns * rng.uniform(0.9, 1.1))),
                int(a * rng.uniform(0.95, 1.05)), int(b * rng.uniform(0.95, 1.05)),
                float(f"{m * rng.uniform(0.9, 1.1):.2f}") if m else 0.0)

    def day(self, i):
        rng = random.Random(f"{self.seed}:day:{i}")
        d = date_dir(i)
        files = {}
        parsed = []  # (relpath, line_no, pkg, test, stats) of lines the ingest keeps
        twin_pkg = PACKAGES[rng.randrange(len(PACKAGES))]
        for pkg in PACKAGES:
            base = pkg.rsplit("/", 1)[-1]
            rel = f"{d}/cockroach/{pkg}/{base}.test.stdout"
            lines = ["goos: linux", "goarch: amd64",
                     f"pkg: github.com/cockroachdb/cockroach/{pkg}"]
            kept = []
            for name in self.names[pkg]:
                r = rng.random()
                if r < 0.03:
                    continue  # not run that day
                if r < 0.05:
                    lines.append(f"--- FAIL: {name}")
                    lines.append(f"{name} \t       1\t         7 ns/op\tFAIL")
                    continue
                s = self._stats(rng, name)
                lines.append(self._line(rng, name, s))
                kept.append((rel, len(lines) - 1, pkg, name, s))
            if kept and rng.random() < 0.25:  # a re-run later in the same file
                _, _, _, name, _ = kept[rng.randrange(len(kept))]
                s = self._stats(rng, name)
                lines.append(self._line(rng, name, s))
                kept.append((rel, len(lines) - 1, pkg, name, s))
            lines += ["PASS", f"ok  \tgithub.com/cockroachdb/cockroach/{pkg}\t12.3s", ""]
            files[rel] = "\n".join(lines)
            parsed += kept
            if pkg == twin_pkg:  # a second file of the same package that day
                prefix = "a_" if i % 2 == 0 else "zz_"
                twin = f"{d}/cockroach/{pkg}/{prefix}{base}.test.stdout"
                tl = []
                for name in rng.sample(self.names[pkg], min(3, len(self.names[pkg]))):
                    s = self._stats(rng, name)
                    tl.append(self._line(rng, name, s))
                    parsed.append((twin, len(tl) - 1, pkg, name, s))
                files[twin] = "\n".join(tl) + "\n"
        files[f"{d}/cockroach/notapkg/notapkg.test.stdout"] = \
            "BenchmarkNope-8 \t       1\t         1 ns/op\n"
        files[f"{d}/cockroach/sql/notes.txt"] = "BenchmarkGhost-8 \t       1\t         1 ns/op\n"
        winners = {}
        for rel, ln, pkg, name, s in sorted(parsed):  # last (path, line) wins
            winners[(pkg, name)] = s
        return files, winners


def bench_lines(files):
    """Lines starting with `Benchmark` in the files the ingest reads."""
    return sum(1 for rel, text in files.items() if rel.endswith("test.stdout")
               for line in text.split("\n") if line.startswith("Benchmark"))


def write_files(root, files):
    for rel, text in files.items():
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)


def bad_date_files():
    return {BAD_DATE_FILE: "BenchmarkNope2-8 \t       1\t         1 ns/op\n"}


def model(day_winners, days):
    """Expected deploy dir for one op over `days`: {relpath: body} and the catalog."""
    frags = {}
    for i in days:
        d = date_dir(i)
        for key, s in day_winners[i].items():
            frags.setdefault(key, []).append(f'"{d}":{stats_json(s)}')
    bodies = {f"{pkg}/{test}.json": "{" + ",".join(sorted(fs)) + "}"
              for (pkg, test), fs in frags.items()}
    catalog = {}
    for pkg, test in frags:
        catalog.setdefault(pkg, []).append(test)
    return bodies, {p: sorted(t) for p, t in catalog.items()}


_SPARK_INTEGRAL = re.compile(r"(?<=[0-9])\.0(?=[,}])")


def check_deploy(deploy, bodies, catalog):
    """Problems found in one op's deploy dir; empty when it matches the model.
    Spark renders an integral float as `0.0` where Go writes `0`; that is the
    only difference allowed."""
    problems = []
    found = {}
    cat_dir = os.path.join(deploy, "test_names.json")
    for dirpath, _, names in os.walk(deploy):
        if dirpath == cat_dir or dirpath.startswith(cat_dir + os.sep):
            continue
        for n in names:
            p = os.path.join(dirpath, n)
            found[os.path.relpath(p, deploy)] = p
    missing = sorted(set(bodies) - set(found))
    extra = sorted(set(found) - set(bodies))
    if missing:
        problems.append(f"{len(missing)} series files missing, e.g. {missing[0]}")
    if extra:
        problems.append(f"{len(extra)} unexpected files, e.g. {extra[0]}")
    for rel in sorted(set(bodies) & set(found)):
        with open(found[rel]) as f:
            got = _SPARK_INTEGRAL.sub("", f.read())
        if got != bodies[rel]:
            problems.append(f"{rel}: body differs: {got[:120]!r} != {bodies[rel][:120]!r}")
            break
    rows = {}
    if os.path.isdir(cat_dir):
        for n in sorted(os.listdir(cat_dir)):
            if n.startswith("part-") and n.endswith(".json"):
                with open(os.path.join(cat_dir, n)) as f:
                    for line in f:
                        r = json.loads(line)
                        rows[r["pkg"]] = r["tests"]
    if rows != catalog:
        problems.append(f"catalog differs: {len(rows)} pkgs != {len(catalog)} pkgs")
    return problems
