"""Seeded directory-tree and churn generator for the benchmark.

Everything the benchmark later checks is decided here, in memory, from the
seed alone: the tree (groups of leaf directories holding files of mixed
size, owner and mode, plus same-dir and cross-dir hardlinks), each churn
step applied to it, and the answer to each ``find`` and
``stats compute``.  ``TreeModel`` is the single source of truth;
``materialize`` and ``apply_step`` only replay it onto disk, so expected
counts never depend on reading the tree back.

Layout (two levels under the root)::

    <root>/g000/            group dir: leaf dirs + a few files
    <root>/g000/d0000/      leaf dir: files, some hardlinked
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import shutil
import sys
from dataclasses import dataclass, field
from datetime import datetime, timezone

# 2024-01-01T00:00:00Z; initial mtimes fall in the year after it and churn
# step k happens on day 400 + k, so a churned mtime never repeats an old one
BASE_T = 1704067200
DAY = 86400
EXTS = (".log", ".txt", ".dat", ".csv", ".py", ".bin", ".LOG", ".tmp")
SIZES = (0, 17, 512, 4096, 65536, 1 << 20, 1 << 24)
SIZE_WEIGHTS = (2, 20, 30, 25, 15, 6, 2)


@dataclass
class File:
    size: int
    uid: int
    gid: int
    mode: int
    mtime: int
    # hardlinks share one key; a key is frozen against churn so the model
    # never has to track inode-level updates through other directories
    link: int = -1


@dataclass
class Dir:
    uid: int
    gid: int
    mode: int
    mtime: int
    files: dict = field(default_factory=dict)  # name -> File
    subdirs: list = field(default_factory=list)  # child names, sorted
    frozen: bool = False


@dataclass
class Step:
    """One churn step: what changed, and the counters analyze must report."""

    added: list  # new leaf dir paths
    deleted: list  # removed leaf dir paths
    changed: list  # surviving dirs whose (mtime, mode) changed
    ops: list  # disk operations, replayed by apply_step


def _ids(can_chown: bool):
    if can_chown:
        return list(range(1000, 1013)), list(range(100, 105))
    return [os.getuid()], [os.getgid()]


class TreeModel:
    """In-memory tree; paths are absolute strings under ``root``."""

    def __init__(self, root: str, seed: int, groups: int, dirs_per_group: int,
                 files_per_dir: int, can_chown: bool = True):
        self.root = root.rstrip("/")
        self.rng = random.Random(seed)
        self.uids, self.gids = _ids(can_chown)
        self.dirs: dict[str, Dir] = {}
        self.next_link = 0
        self.next_dir = {}
        self.steps_done = 0
        rng = self.rng
        self.dirs[self.root] = Dir(self._uid(), self._gid(), 0o755,
                                   BASE_T + DAY * 366)
        for g in range(groups):
            gp = f"{self.root}/g{g:03d}"
            self.dirs[gp] = Dir(self._uid(), self._gid(), 0o755, self._t0())
            self.dirs[self.root].subdirs.append(f"g{g:03d}")
            for i in range(2):
                self.dirs[gp].files[f"README{i}.txt"] = self._file()
            for d in range(dirs_per_group):
                self._new_leaf(gp, f"d{d:04d}", files_per_dir, self._t0())
            self.next_dir[gp] = dirs_per_group
        # hardlinks: ~3% of leaf dirs link a file within the dir, ~2% link
        # one into a leaf dir of another group
        leaves = self.leaves()
        for lp in rng.sample(leaves, max(1, len(leaves) * 3 // 100)):
            self._link(lp, lp, "hl_")
        for lp in rng.sample(leaves, max(1, len(leaves) * 2 // 100)):
            other = rng.choice(leaves)
            if self._group(other) != self._group(lp):
                self._link(other, lp, "xl_")

    # -- construction helpers -------------------------------------------
    def _uid(self):
        return self.rng.choice(self.uids)

    def _gid(self):
        return self.rng.choice(self.gids)

    def _t0(self):
        return BASE_T + self.rng.randrange(365 * DAY)

    def _file(self, mtime=None):
        rng = self.rng
        return File(
            size=rng.choices(SIZES, SIZE_WEIGHTS)[0] + rng.randrange(64),
            uid=self._uid(), gid=self._gid(),
            mode=0o755 if rng.random() < 0.1 else 0o644,
            mtime=self._t0() if mtime is None else mtime,
        )

    def _fname(self):
        rng = self.rng
        return f"f{rng.randrange(10 ** 6):06d}{rng.choice(EXTS)}"

    def _new_leaf(self, gp, name, files_per_dir, mtime):
        lp = f"{gp}/{name}"
        d = Dir(self._uid(), self._gid(), 0o755, mtime)
        n = self.rng.randint(files_per_dir // 2, files_per_dir * 3 // 2)
        while len(d.files) < n:
            d.files[self._fname()] = self._file(
                None if mtime < BASE_T + 365 * DAY
                else mtime - self.rng.randrange(DAY))
        self.dirs[lp] = d
        parent = self.dirs[gp]
        parent.subdirs.append(name)
        parent.subdirs.sort()
        return lp

    def _link(self, src_dir, dst_dir, tag):
        src = self.dirs[src_dir]
        names = [n for n, f in src.files.items() if f.link < 0]
        if not names:
            return
        name = self.rng.choice(sorted(names))
        f = src.files[name]
        f.link = self.next_link
        self.next_link += 1
        dst = self.dirs[dst_dir]
        dst.files[f"{tag}{name}"] = f  # same object: one inode
        src.frozen = dst.frozen = True

    def _group(self, path):
        return path[len(self.root) + 1:].split("/")[0]

    def leaves(self):
        return [p for p in self.dirs if p.count("/") - self.root.count("/") == 2]

    # -- churn -------------------------------------------------------------
    def churn(self, rate: float, files_per_dir: int) -> Step:
        """Advance the model one step: ``rate`` of the leaf dirs change
        (files added, modified or deleted), one leaf subtree is removed, one
        is added, one file is chowned and one dir chmodded."""
        rng = self.rng
        self.steps_done += 1
        t = BASE_T + (400 + self.steps_done) * DAY
        ops: list = []
        changed: set = set()
        live = sorted(p for p in self.leaves() if not self.dirs[p].frozen)
        n = max(3, round(rate * len(self.leaves())))
        picked = rng.sample(live, min(n, len(live)))
        gone, touched = picked[0], picked[1:]

        # remove one subtree; its group dir changes
        del self.dirs[gone]
        gp, name = gone.rsplit("/", 1)
        self.dirs[gp].subdirs.remove(name)
        ops.append(("rmtree", gone))
        changed.add(gp)

        # add one leaf dir with files
        ag = rng.choice(sorted(self.next_dir))
        self.next_dir[ag] += 1
        added = self._new_leaf(ag, f"d{self.next_dir[ag]:04d}",
                               files_per_dir, t)
        ops.append(("mkleaf", added))
        changed.add(ag)

        for i, lp in enumerate(touched):
            d = self.dirs[lp]
            kind = i % 3
            names = sorted(d.files)
            if kind == 0 or len(names) < 3:  # add files
                for _ in range(rng.randint(1, 3)):
                    fn = self._fname()
                    if fn not in d.files:
                        d.files[fn] = self._file(t - rng.randrange(DAY))
                        ops.append(("write", f"{lp}/{fn}"))
            elif kind == 1:  # delete files
                for fn in rng.sample(names, rng.randint(1, 2)):
                    del d.files[fn]
                    ops.append(("unlink", f"{lp}/{fn}"))
            else:  # modify files in place
                for fn in rng.sample(names, rng.randint(1, 2)):
                    f = d.files[fn]
                    f.size = rng.choices(SIZES, SIZE_WEIGHTS)[0] + rng.randrange(64)
                    f.mtime = t - rng.randrange(DAY)
                    ops.append(("write", f"{lp}/{fn}"))
            changed.add(lp)

        # one chown (a file in a changed dir) and one chmod (a changed dir)
        if touched:
            d = self.dirs[touched[0]]
            if d.files:
                fn = sorted(d.files)[0]
                d.files[fn].uid = self._uid()
                d.files[fn].gid = self._gid()
                ops.append(("chown", f"{touched[0]}/{fn}"))
            cd = self.dirs[touched[-1]]  # its utime op below applies it
            cd.mode = 0o750 if cd.mode == 0o755 else 0o755
        for p in sorted(changed):
            self.dirs[p].mtime = t
        # dir times go last: the content operations above bump them
        ops.append(("utime", sorted(changed | {added})))
        return Step([added], [gone], sorted(changed), ops)

    # -- expectations ------------------------------------------------------
    def counts(self) -> dict:
        files = sum(len(d.files) for d in self.dirs.values())
        return {"dirs": len(self.dirs), "files": files,
                "entries": files + len(self.dirs) - 1}

    def entries_in(self, dirs) -> int:
        return sum(len(self.dirs[p].files) + len(self.dirs[p].subdirs)
                   for p in dirs if p in self.dirs)

    def n_entries(self, path) -> int:
        d = self.dirs[path]
        return len(d.files) + len(d.subdirs)

    def find(self, root: str, q) -> list[str]:
        """Lines ``find`` prints: matching dirs (with '/') and files."""
        root = root.rstrip("/")
        out = []
        for p, d in self.dirs.items():
            if not (p == root or p.startswith(root + "/")):
                continue
            if q.on_dir(self, p, d):
                out.append(p + "/")
            for name, f in d.files.items():
                if q.on_file(f"{p}/{name}", name, f):
                    out.append(f"{p}/{name}")
        return out

    def totals(self, root: str, dir_size) -> dict:
        """The totals ``stats compute <root>`` must report.  A hardlinked
        inode counts once as a file and its other links as ``hardlinks``;
        ``dir_size(path)`` supplies directory sizes, which the filesystem
        decides."""
        root = root.rstrip("/")
        t = dict.fromkeys(("prefixes", "files", "hardlinks", "bytes",
                           "prefix_bytes"), 0)
        seen = set()
        for p, d in self.dirs.items():
            if not (p == root or p.startswith(root + "/")):
                continue
            t["prefixes"] += 1
            size = dir_size(p)
            t["prefix_bytes"] += size
            t["bytes"] += size
            for f in d.files.values():
                if f.link >= 0:
                    if f.link in seen:
                        t["hardlinks"] += 1
                        continue
                    seen.add(f.link)
                t["files"] += 1
                t["bytes"] += f.size
        return t

    def digest(self) -> str:
        """Hash of the full model state (the manifest's tree identity)."""
        h = hashlib.sha256()
        for p in sorted(self.dirs):
            d = self.dirs[p]
            h.update(f"{p}|{d.uid}|{d.gid}|{d.mode}|{d.mtime}\n".encode())
            for name in sorted(d.files):
                f = d.files[name]
                h.update(f"{name}|{f.size}|{f.uid}|{f.gid}|{f.mode}|"
                         f"{f.mtime}|{f.link}\n".encode())
        return h.hexdigest()


# -- disk replay -------------------------------------------------------------

def _write_file(path, f: File, can_chown: bool):
    fd = os.open(path, os.O_CREAT | os.O_WRONLY | os.O_TRUNC, 0o644)
    try:
        os.ftruncate(fd, f.size)  # sparse: sizes vary, disk use does not
    finally:
        os.close(fd)
    _attrs(path, f, can_chown)


def _attrs(path, node, can_chown: bool):
    if can_chown:
        os.chown(path, node.uid, node.gid)
    os.chmod(path, node.mode)
    os.utime(path, ns=(node.mtime * 10 ** 9, node.mtime * 10 ** 9))


def materialize(model: TreeModel, can_chown: bool) -> None:
    """Write the model's initial tree to disk (``root`` must not exist)."""
    linked = {}
    for p in sorted(model.dirs):
        os.mkdir(p)
    for p in sorted(model.dirs):
        for name, f in sorted(model.dirs[p].files.items()):
            fp = f"{p}/{name}"
            if f.link >= 0 and f.link in linked:
                os.link(linked[f.link], fp)
            else:
                _write_file(fp, f, can_chown)
                if f.link >= 0:
                    linked[f.link] = fp
    # dir attrs last, deepest first: creating children bumps parent mtime
    for p in sorted(model.dirs, key=lambda s: -s.count("/")):
        _attrs(p, model.dirs[p], can_chown)


def apply_step(model: TreeModel, step: Step, can_chown: bool) -> None:
    """Replay one churn step (already applied to ``model``) onto disk."""
    for op, arg in step.ops:
        if op == "rmtree":
            shutil.rmtree(arg)
        elif op == "mkleaf":
            os.mkdir(arg)
            for name, f in sorted(model.dirs[arg].files.items()):
                _write_file(f"{arg}/{name}", f, can_chown)
        elif op == "write":
            p, name = arg.rsplit("/", 1)
            _write_file(arg, model.dirs[p].files[name], can_chown)
        elif op == "unlink":
            os.unlink(arg)
        elif op == "chown":
            p, name = arg.rsplit("/", 1)
            _attrs(arg, model.dirs[p].files[name], can_chown)
        elif op == "utime":
            for p in arg:
                _attrs(p, model.dirs[p], can_chown)


# -- the predicate language, evaluated over the model ------------------------

def _glob_rx(glob: str) -> re.Pattern:
    out = []
    for c in glob:
        out.append("[^/]*" if c == "*" else "[^/]" if c == "?" else re.escape(c))
    return re.compile("^" + "".join(out) + "$")


class Q:
    """An expression with its text and its meaning at both granularities
    (dir row = prefix mode, file entry = entry mode)."""

    def __init__(self, text, on_dir, on_file):
        self.text, self._d, self._f = text, on_dir, on_file

    def on_dir(self, model, path, d):
        return self._d(model, path, d)

    def on_file(self, path, name, f):
        return self._f(path, name, f)

    def __and__(self, o):
        return Q(f"( {self.text} && {o.text} )",
                 lambda m, p, d: self._d(m, p, d) and o._d(m, p, d),
                 lambda p, n, f: self._f(p, n, f) and o._f(p, n, f))

    def __or__(self, o):
        return Q(f"( {self.text} || {o.text} )",
                 lambda m, p, d: self._d(m, p, d) or o._d(m, p, d),
                 lambda p, n, f: self._f(p, n, f) or o._f(p, n, f))

    def __invert__(self):
        return Q(f"! {self.text}",
                 lambda m, p, d: not self._d(m, p, d),
                 lambda p, n, f: not self._f(p, n, f))


def q_name(glob):
    rx = _glob_rx(glob)
    return Q(f"name='{glob}'",
             lambda m, p, d: bool(rx.match(p.rsplit("/", 1)[1]) or rx.match(p)),
             lambda p, n, f: bool(rx.match(n) or rx.match(p)))


def q_re(pattern):
    rx = re.compile(pattern)
    return Q(f"re='{pattern}'", lambda m, p, d: bool(rx.search(p)),
             lambda p, n, f: bool(rx.search(p)))


def q_user(uid):
    return Q(f"user={uid}", lambda m, p, d: d.uid == uid,
             lambda p, n, f: f.uid == uid)


def q_group(gid):
    return Q(f"group={gid}", lambda m, p, d: d.gid == gid,
             lambda p, n, f: f.gid == gid)


def q_newer(day: int):
    t = BASE_T + day * DAY
    s = datetime.fromtimestamp(t, timezone.utc).strftime("%Y-%m-%d")
    return Q(f"newer={s}", lambda m, p, d: d.mtime > t,
             lambda p, n, f: f.mtime > t)


def q_executable():
    return Q("type=x", lambda m, p, d: bool(d.mode & 0o111),
             lambda p, n, f: bool(f.mode & 0o111))


def q_dir_larger(n):
    return Q(f"dir-larger={n}", lambda m, p, d: m.n_entries(p) > n,
             lambda p, nm, f: False)


def find_queries(seed: int, model: TreeModel) -> list:
    """The interactive ``find``s, one per root scope, as (root, Q): the
    whole tree, one leaf dir, and a compound over one group that uses
    every operand the benchmark covers.  Their shapes (operands,
    connectives, root scope) are fixed so runs stay comparable; the seed
    picks the roots and the values."""
    rng = random.Random(seed * 7919 + 1)
    g = f"{model.root}/{rng.choice(sorted(model.dirs[model.root].subdirs))}"
    leaf = f"{g}/{rng.choice(model.dirs[g].subdirs)}"
    ext = rng.choice(EXTS)
    uid, gid = rng.choice(model.uids), rng.choice(model.gids)
    day, n = rng.randrange(365), rng.randrange(8, 16)
    return [
        (model.root, q_user(uid) & q_newer(day)),
        (leaf, q_newer(day) | q_executable()),
        (g, ((q_name(f"*{ext}") | q_re(r"\.(log|csv)$")) & ~q_executable())
         | (q_group(gid) & q_dir_larger(n)) | (q_user(uid) & q_newer(day))),
    ]


def manifest(seed: int, shape: dict, rate: float, can_chown: bool,
             root: str) -> dict:
    """The seed's expectations, computed on a fresh model: initial tree
    counts, the night's churn counters, and the hits of each ``find``.
    The benchmark also builds it in a child process (``main``) under
    another hash seed, to show the seed alone decides it."""
    m = TreeModel(root, seed, can_chown=can_chown, **shape)
    out = {"tree": m.counts(), "tree_digest": m.digest()}
    # the whole-tree and one-dir finds run before the churn, the
    # one-group find after it
    qs = find_queries(seed, m)
    out["finds"] = [{"root": r, "expr": q.text, "hits": len(m.find(r, q))}
                    for r, q in qs[:2]]
    s = m.churn(rate, shape["files_per_dir"])
    out["step"] = {
        "added": len(s.added), "deleted": len(s.deleted),
        "changed": len(s.changed), **m.counts(),
        "useful_entries": m.entries_in(s.changed + s.added),
        "digest": m.digest(),
    }
    r, q = qs[2]
    out["finds"].append({"root": r, "expr": q.text,
                         "hits": len(m.find(r, q))})
    body = json.dumps(out, sort_keys=True)
    out["hash"] = hashlib.sha256(body.encode()).hexdigest()
    return out


def main(argv=None) -> int:
    """``python3 treegen.py '<json of manifest's arguments>'`` prints the
    manifest's hash."""
    print(manifest(**json.loads((argv or sys.argv[1:])[0]))["hash"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
