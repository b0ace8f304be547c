"""Seeded input generators and their expected answers, in plain Python.

Every generator takes a seed and writes files; the program under test
only ever sees those files. The expected answers are computed here
from the generated records without Spark, so a wrong answer from the
program cannot also move the reference it is checked against.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import random

import numpy as np

WINDOW_S = 31 * 86400
# August 1995 in the NASA log's own zone (-0400), as UTC epoch seconds.
AUG_START = int(dt.datetime(1995, 8, 1, 4, 0, tzinfo=dt.timezone.utc).timestamp())
AUG_END = AUG_START + 31 * 86400
_ZONE = dt.timezone(dt.timedelta(hours=-4))
_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
           "Oct", "Nov", "Dec")
_PATHS = ("/images/NASA-logosmall.gif", "/images/KSC-logosmall.gif",
          "/shuttle/countdown/", "/history/apollo/", "/ksc.html",
          "/shuttle/missions/sts-69/mission-sts-69.html", "/cgi-bin/imagemap",
          "/facilities/lc39a.html", "/images/ksclogo-medium.gif")
_DOMAINS = ("prodigy.com", "aol.com", "compuserve.com", "netcom.com",
            "ix.netcom.com", "ac.uk", "nasa.gov", "ksc.nasa.gov")


def window_start(epoch_s: int) -> int:
    """Epoch-aligned tumbling window holding ``epoch_s`` (Spark's rule)."""
    return epoch_s - epoch_s % WINDOW_S


def clf_timestamp(epoch_s: int) -> str:
    t = dt.datetime.fromtimestamp(epoch_s, _ZONE)
    return (f"{t.day:02d}/{_MONTHS[t.month - 1]}/{t.year}:"
            f"{t.hour:02d}:{t.minute:02d}:{t.second:02d} -0400")


def _host_names(rng: random.Random, n: int) -> list[str]:
    names = []
    for i in range(n):
        if i % 3 == 0:
            names.append(f"{128 + i % 100}.{(i // 100) % 256}.{i % 251}.{i // 25600}")
        else:
            names.append(f"h{i}-{rng.randrange(1000)}.{_DOMAINS[i % len(_DOMAINS)]}")
    rng.shuffle(names)  # the seed decides which name is the heavy hitter
    return names


class ClfAnswer:
    """Per-window reference Q1 (top host, ties to the greatest name),
    Q2 (distinct hosts) and Q3 (floor of the mean reply size, '-' as 0)
    over the records fed to it."""

    def __init__(self) -> None:
        self.counts: dict[int, dict[str, int]] = {}
        self.bytes_sum: dict[int, int] = {}

    def add(self, epoch_s: int, host: str, nbytes: int | None) -> None:
        w = window_start(epoch_s)
        per = self.counts.setdefault(w, {})
        per[host] = per.get(host, 0) + 1
        self.bytes_sum[w] = self.bytes_sum.get(w, 0) + (nbytes or 0)

    def q1(self) -> dict[int, tuple[str, int]]:
        out = {}
        for w, per in self.counts.items():
            n = max(per.values())
            out[w] = (max(h for h, c in per.items() if c == n), n)
        return out

    def q2(self) -> dict[int, int]:
        return {w: len(per) for w, per in self.counts.items()}

    def q3(self) -> dict[int, int]:
        return {w: math.floor(float(self.bytes_sum[w]) / sum(per.values()))
                for w, per in self.counts.items()}

    def rows(self) -> int:
        return sum(sum(per.values()) for per in self.counts.values())


def _clf_records(seed: int, n_lines: int, n_hosts: int):
    """(epoch_s, line, host or None for a malformed line, bytes) in time
    order: Zipf-skewed hosts, ~0.1% malformed lines, ~1% '-' sizes."""
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    hosts = _host_names(rng, n_hosts)
    weights = 1.0 / np.arange(1, n_hosts + 1) ** 1.1
    ranks = nrng.choice(n_hosts, size=n_lines, p=weights / weights.sum())
    times = np.sort(nrng.integers(AUG_START, AUG_END, size=n_lines))
    out = []
    for t, r in zip(times.tolist(), ranks.tolist()):
        stamp = clf_timestamp(t)
        u = rng.random()
        if u < 0.001:
            bad = rng.choice((
                f"{hosts[r]} - - [{stamp}] \"GET\" 200",
                f"{hosts[r]} [{stamp}] \"GET / HTTP/1.0\" 200 512",
                "\x00" * rng.randrange(1, 4) + " truncated",
            ))
            out.append((t, bad, None, None))
            continue
        nbytes = None if u < 0.011 else rng.randrange(0, 80000)
        method = "GET" if u < 0.95 else rng.choice(("POST", "HEAD"))
        status = 200 if nbytes else rng.choice((304, 404))
        line = (f"{hosts[r]} - - [{stamp}] \"{method} {rng.choice(_PATHS)} "
                f"HTTP/1.0\" {status} {'-' if nbytes is None else nbytes}")
        out.append((t, line, hosts[r], nbytes))
    return out


def write_clf_batch(seed: int, dirpath: str, n_lines: int, n_hosts: int,
                    n_files: int = 4) -> ClfAnswer:
    """The month as ``n_files`` consecutive time-ordered files (a log
    rotated weekly), so a small input still splits into as many scan
    tasks as a full-size month does; returns the answers over its
    valid lines."""
    ans = ClfAnswer()
    records = _clf_records(seed, n_lines, n_hosts)
    os.makedirs(dirpath, exist_ok=True)
    per = math.ceil(len(records) / n_files)
    for k in range(n_files):
        with open(os.path.join(dirpath, f"access-{k}.log"), "w") as f:
            for t, line, host, nbytes in records[k * per:(k + 1) * per]:
                f.write(line + "\n")
                if host is not None:
                    ans.add(t, host, nbytes)
    return ans


def write_clf_stream(
    seed: int, dirpath: str, n_lines: int, n_hosts: int, n_files: int,
    n_late: int,
) -> tuple[ClfAnswer, int]:
    """The same traffic split into ``n_files`` time-ordered files (file
    mtimes increase with the index, which is the order the file source
    reads them in): all but the last two share the first two thirds of
    the month, the last two the final third. Lines are shuffled within
    a file, and ~5% of the lines from the last six hours of a file's
    time slice move to the next file: out of order, but inside the
    12-hour watermark delay returned. ``n_late`` extra lines, each from
    a host seen nowhere else, carry first-window times and sit in the
    last file, after the watermark has passed the end of the first
    window: the stream must drop exactly these.

    Returns (answers over the rows the stream must keep, delay in
    hours)."""
    rng = random.Random(seed ^ 0x5EED)
    month = AUG_END - AUG_START
    head = n_files - 2
    bounds = ([AUG_START + month * 2 * i / (3 * head) for i in range(head)]
              + [AUG_START + month * 2 / 3, AUG_START + month * 5 / 6, AUG_END])
    disorder_s, delay_h = 6 * 3600, 12
    first_window_end = window_start(AUG_START) + WINDOW_S
    # The last file meets a watermark at least the delay behind the end
    # of file n - 3's slice (one batch of lag included).
    if bounds[head] - delay_h * 3600 < first_window_end + 12 * 3600:
        raise ValueError(f"{n_files} files leave no room for late lines")
    files: list[list[str]] = [[] for _ in range(n_files)]
    ans = ClfAnswer()
    k = 0
    for t, line, host, nbytes in _clf_records(seed, n_lines, n_hosts):
        while t >= bounds[k + 1]:
            k += 1
        dest = k + (k < head and bounds[k + 1] - t < disorder_s
                    and rng.random() < 0.05)
        files[dest].append(line)
        if host is not None:
            ans.add(t, host, nbytes)
    for i in range(n_late):
        t = rng.randrange(AUG_START, first_window_end - 86400)
        files[-1].append(
            f"late{i}.example.org - - [{clf_timestamp(t)}] "
            f"\"GET /ksc.html HTTP/1.0\" 200 {rng.randrange(1, 9000)}"
        )
    os.makedirs(dirpath, exist_ok=True)
    for k, lines in enumerate(files):
        rng.shuffle(lines)
        p = os.path.join(dirpath, f"part-{k:03d}.log")
        with open(p, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(p, (1_000_000 + k, 1_000_000 + k))
    return ans, delay_h


# --------------------------------------------------------------------------
# JSONL corpus for the prep CLI path
# --------------------------------------------------------------------------

_STOP = ("the", "and", "of", "to", "a", "in", "is")
DECONTAM_N = 13


def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "bcdfghjklmnprstvz"
    vowels = "aeiou"
    words = set()
    while len(words) < n:
        k = rng.randrange(2, 5)
        words.add("".join(rng.choice(letters) + rng.choice(vowels)
                          for _ in range(k)))
    return sorted(words)


def _doc_text(rng: random.Random, vocab: list[str], lo: int, hi: int) -> str:
    return " ".join(
        rng.choice(_STOP) if rng.random() < 0.2 else rng.choice(vocab)
        for _ in range(rng.randrange(lo, hi))
    )


def _gate_ok(text: str) -> bool:
    """The prep CLI's quality and language gate, restated: at least 20
    whitespace tokens, distinct/total >= 0.35, English stopwords/total
    >= 0.02, and some language marker present."""
    toks = text.split()
    n = len(toks)
    if n < 20:
        return False
    stop = sum(t in _STOP for t in toks)
    return len(set(toks)) / n >= 0.35 and stop / n >= 0.02 and stop > 0


def _grams(text: str) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i:i + DECONTAM_N])
            for i in range(len(toks) - DECONTAM_N + 1)}


def write_corpus(
    seed: int, corpus_dir: str, heldout_path: str, sf_dir: str, n_docs: int,
) -> dict:
    """A JSONL corpus with planted exact duplicates (~10%), corrupt
    lines (~0.2%), low-quality documents (~3%) and documents sharing a
    13-gram with a held-out set (~1%); its valid documents also go to
    ``sf_dir/documents.parquet``, the registry's documents table.
    Returns the prep summary counts the CLI must report and the doc_ids
    it must keep."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    vocab = _vocab(rng, 3000)
    heldout = [_doc_text(rng, vocab, 40, 80) for _ in range(200)]
    docs: list[tuple[int, str]] = []
    lines: list[str] = []
    n_corrupt = 0
    for i in range(n_docs):
        u = rng.random()
        if u < 0.002:
            n_corrupt += 1
            lines.append(rng.choice((
                '{"doc_id": %d, "text": "unterminated' % i,
                '{"doc_id": "id-%d", "text": "type mismatch"}' % i,
                "not json at all %d" % i,
            )))
            continue
        if u < 0.102 and docs:
            text = rng.choice(docs)[1]
        elif u < 0.132:
            text = " ".join([rng.choice(vocab)] * rng.randrange(5, 40))
        elif u < 0.142:
            src = rng.choice(heldout).split()
            j = rng.randrange(0, len(src) - DECONTAM_N + 1)
            text = (_doc_text(rng, vocab, 20, 60) + " "
                    + " ".join(src[j:j + DECONTAM_N]) + " "
                    + _doc_text(rng, vocab, 5, 30))
        else:
            text = _doc_text(rng, vocab, 30, 160)
        docs.append((i, text))
        lines.append(json.dumps({
            "doc_id": i, "text": text, "lang": "en",
            "source": f"src{i % 17}", "n_chars": len(text),
        }))
    os.makedirs(corpus_dir, exist_ok=True)
    shard = max(1, len(lines) // 4)
    for k in range(0, len(lines), shard):
        with open(os.path.join(corpus_dir, f"part-{k // shard}.jsonl"), "w") as f:
            f.write("\n".join(lines[k:k + shard]) + "\n")
    with open(heldout_path, "w") as f:
        for j, text in enumerate(heldout):
            f.write(json.dumps({"doc_id": 10**9 + j, "text": text}) + "\n")
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array([i for i, _ in docs], pa.int64()),
        "text": [t for _, t in docs],
        "lang": ["en"] * len(docs),
        "source": [f"src{i % 17}" for i, _ in docs],
        "n_chars": pa.array([len(t) for _, t in docs], pa.int64()),
    }), os.path.join(sf_dir, "documents.parquet"))

    eval_grams = set().union(*(_grams(t) for t in heldout))
    canon: dict[str, int] = {}
    for i, text in docs:
        canon.setdefault(text, i)
    n_quality_fail = n_contaminated = 0
    kept = set()
    for text, i in canon.items():
        ok = _gate_ok(text)
        dirty = not _grams(text).isdisjoint(eval_grams)
        n_quality_fail += not ok
        n_contaminated += dirty
        if ok and not dirty:
            kept.add(i)
    return {
        "summary": {
            "n_input_valid": len(docs),
            "n_corrupt": n_corrupt,
            "n_duplicates": len(docs) - len(canon),
            "n_quality_fail": n_quality_fail,
            "n_contaminated": n_contaminated,
            "n_kept": len(kept),
        },
        "kept_ids": kept,
        "records": n_docs,
    }


def dir_digest(dirpath: str) -> str:
    """sha256 over the names and bytes of the files in ``dirpath``: the
    same seed must give the same digest."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(dirpath)):
        h.update(name.encode())
        with open(os.path.join(dirpath, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()
