#!/usr/bin/env python3
"""Cross-PROCESS concurrent-writer fuzz for the GraftStore commit protocol.

The claim/snapshot machinery is file-based precisely so writers in
different JVMs serialize correctly; the in-JVM specs can't prove that.
This harness forks N separate `java` processes (each its own Spark
driver, local master) running graft.MultiWriterRunner `write` against ONE
table directory — interleaved appends, keyed upserts, optimize and
rebucket — then runs `verify`, which checks: contiguous versions, no
orphan claims, no duplicate keys, live contents == the union of what
every writer recorded as committed, and changelog replay from v0 == live.
Each writer also reports how its optimize / expire_partitions / rebucket
calls ended (committed, conflicted, no-op); the script prints the totals
and says so when no such call reached the commit claim, since a PASS then
shows nothing about maintenance contention.

Usage: python3 scripts/fuzz_multiproc.py [nWriters] [nOps] [seed] [--crash] [--mor] [--part] [--tags] [--branches] [--group] [--txn]

--txn forks TWO txnloop processes (S45): each round runs a
begin_txn/INSERT x2/commit_txn multi-statement transaction over the main
table AND the sidecar through the catalog SQL surface, racing the
writers, each other, and (with --group) the publish_group coordinators.
Commits that lose the fork race rebase-and-retry once, then roll back —
a rolled-back round's keys must be NOWHERE. Composes with --crash: one
txnloop is SIGKILLed mid-run (dead session: leaked txn branches, maybe a
mid-publish group) and `verifygroup` proves atomicity after read-path
recovery. Shares the sidecar and the group-key verification band with
--group (keys offset so they never collide).

--group forks TWO grouploop processes (S44): each round stages the
same-named branch on the main table AND a sidecar table, then calls
publishGroup — both flip or neither. Composes with --crash: one
grouploop is SIGKILLed mid-publish (a REAL dead coordinator, claims and
markers leaked), and `verifygroup` proves the cross-table atomicity
invariant after read-path recovery: the group-key set of main equals the
sidecar's exactly.

--tags forks TWO extra `refloop` processes that race the writers and each
other with create_tag + aggressive expire_versions churn (S36): a create
may cleanly lose to an expire (loud failure, ref removed), but a
surviving tag must always resolve to a readable version whose referenced
owner slots all exist — asserted after every round and by the final
verify, which runs with --expired (history legitimately starts above v0;
contiguity and changelog replay anchor at the earliest version of the
retained window ending at current).

--mor creates the table with merge_mode='mor' so every upsert commits a
merge-on-read delete slice instead of rewriting buckets — the identical
verifier proves the mode invisible under cross-process interleaving.

--part creates the table with a days(ts) PARTITIONED BY layout: writers
place keys on deterministic days, upserts MOVE rows between partitions,
and `expire_partitions` commits interleave with live writers as claim
contenders; sacrificial keys (k%7==0) land on an old day that is expired
before verification, and changelog replay runs segment-wise between the
expire boundaries. Composes with --mor (partitioned merge-on-read).

--crash adds CRASH INJECTION: once the table's pointer has advanced a
fixed number of versions past its start, a random subset of the writers
still running is SIGKILLed mid-commit, and a run that killed none fails
(claims shortened to 3 s via the
graft.store.staleClaimMillis property so survivors take over quickly),
replacement writers run against the same table, and verification switches
to --partial: survivors' ranges value-for-value, killed ranges by the
structural invariants (no duplicate keys, contiguous versions, dead-claim
sweep, changelog replay == live — the torn-commit detector).

Requires `sbt -batch compile` to have populated target/scala-2.13/classes.
"""
import glob, os, random, re, signal, subprocess, sys, tempfile, time

args = [a for a in sys.argv[1:]
        if a not in ("--crash", "--mor", "--part", "--tags", "--branches",
                     "--group", "--txn")]
crash = "--crash" in sys.argv[1:]
mor = "--mor" in sys.argv[1:]
part = "--part" in sys.argv[1:]
tags = "--tags" in sys.argv[1:]
branches = "--branches" in sys.argv[1:]
group = "--group" in sys.argv[1:]
txn = "--txn" in sys.argv[1:]
n_writers = int(args[0]) if len(args) > 0 else 3
n_ops = int(args[1]) if len(args) > 1 else 12
seed = int(args[2]) if len(args) > 2 else 7
rng = random.Random(seed)

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
classes = os.path.join(repo, "target", "scala-2.13", "classes")
if not os.path.isdir(classes):
    sys.exit("run `sbt -batch compile` first (no target/scala-2.13/classes)")
scala_lib = glob.glob(os.path.expanduser(
    "~/.sbt/boot/scala-2.13.*/lib/scala-library.jar")) + glob.glob(
    "/opt/spark/jars/scala-library*.jar")
cp = ":".join([classes, "/opt/spark/jars/*"] + scala_lib[:1])

work = tempfile.mkdtemp(prefix="graft_multiproc_")
table = os.path.join(work, "t")
java = ["java", "--add-exports=java.base/sun.nio.ch=ALL-UNNAMED",
        "-Xmx2g"] + (["-Dgraft.store.staleClaimMillis=3000"] if crash else []) + [
        "-cp", cp, "graft.MultiWriterRunner"]

def run(args, **kw):
    return subprocess.run(java + args, capture_output=True, text=True,
                          timeout=900, **kw)

spec = ",".join((["mor"] if mor else []) + (["part"] if part else []))
r = run(["init", table] + ([spec] if spec else []))
if "[multiwriter] init ok" not in r.stdout:
    print(r.stdout[-2000:]); print(r.stderr[-2000:])
    sys.exit("init failed")
side = os.path.join(work, "t_side")
if group or txn:
    r = run(["init", side] + ([spec] if spec else []))
    if "[multiwriter] init ok" not in r.stdout:
        print(r.stdout[-2000:]); print(r.stderr[-2000:])
        sys.exit("sidecar init failed")

def start_writer(w, ops):
    out = os.path.join(work, f"writer{w}.tsv")
    p = subprocess.Popen(
        java + ["write", table, str(w), str(ops), str(seed + w), out],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    return w, p, out

procs = [start_writer(w, n_ops) for w in range(1, n_writers + 1)]

# --tags: TWO named-ref churn processes race the writers AND each other —
# concurrent create_tag × expire_versions × expire_versions across JVMs,
# the file-based protocol's worst case. Each asserts after every round
# that a surviving tag reads whole; verify re-asserts at the end and
# switches to --expired invariants (history legitimately starts above v0).
ref_procs = []
if tags:
    for j in (1, 2):
        p = subprocess.Popen(
            java + ["refloop", table, str(max(6, n_ops)), str(seed * 10 + j)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        ref_procs.append((j, p))

# --branches: TWO branch-churn processes race the writers and each other —
# fork / branch-DML / fast_forward / expire across JVMs. Publishes that
# WIN record their keys like a writer (verify holds the content
# accountable); publishes that LOSE must leave the branch whole.
branch_procs = []
branch_outs = []
if branches:
    for j in (1, 2):
        out = os.path.join(work, f"branch{j}.tsv")
        p = subprocess.Popen(
            java + ["branchloop", table, str(max(5, n_ops // 2)),
                    str(seed * 100 + j), out],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        branch_procs.append((j, p))
        branch_outs.append(out)

group_procs = []
group_outs = []
if group:
    for j in (1, 2):
        out = os.path.join(work, f"group{j}.tsv")
        p = subprocess.Popen(
            java + ["grouploop", table, side, str(max(5, n_ops // 2)),
                    str(seed * 1000 + j), out],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        group_procs.append((j, p))
        group_outs.append(out)

txn_procs = []
txn_outs = []
if txn:
    for j in (1, 2):
        out = os.path.join(work, f"txn{j}.tsv")
        p = subprocess.Popen(
            java + ["txnloop", table, side, str(max(5, n_ops // 2)),
                    str(seed * 10000 + j), out],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        txn_procs.append((j, p))
        txn_outs.append(out)

def pointer(d):
    """The table's pointer hint: the version its newest move recorded."""
    try:
        with open(os.path.join(d, "_current")) as f:
            return int(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return -1

# --crash kills once the table has gained this many versions: writers
# are then past session startup and committing
CRASH_AFTER_VERSIONS = 4

killed = set()
killed_group = set()
killed_txn = set()
if crash:
    # wait until the pointer has advanced CRASH_AFTER_VERSIONS past its
    # start, then SIGKILL a random subset of the writers still running
    start = pointer(table)
    while (pointer(table) < start + CRASH_AFTER_VERSIONS
           and any(p.poll() is None for _, p, _ in procs)):
        time.sleep(0.05)
    running = [x for x in procs if x[1].poll() is None]
    for w, p, _ in rng.sample(running, min(len(running), max(1, n_writers // 2))):
        p.send_signal(signal.SIGKILL)
        killed.add(w)
        print(f"writer {w}: SIGKILLed mid-run at v{pointer(table)}")
    # replacements hammer the same table while the dust settles
    procs += [start_writer(100 + w, max(4, n_ops // 2))
              for w in range(1, 3)]
    # a REAL dead group coordinator: SIGKILL one grouploop mid-publish
    if group:
        j, p = group_procs[0]
        if p.poll() is None:
            p.send_signal(signal.SIGKILL)
            killed_group.add(j)
            print(f"grouploop {j}: SIGKILLed mid-run")
    # a dead TRANSACTION session: leaked txn branches, maybe a
    # mid-publish group commit — recovery must keep atomicity
    if txn:
        j, p = txn_procs[0]
        if p.poll() is None:
            p.send_signal(signal.SIGKILL)
            killed_txn.add(j)
            print(f"txnloop {j}: SIGKILLed mid-run")

fail = False
outs = []
# maintenance outcomes summed over the writers that finished: op ->
# [committed, conflicted, no-op] (a SIGKILLed writer prints no counts)
maintenance = {}
for w, p, out in procs:
    so, se = p.communicate(timeout=900)
    if w in killed:
        continue  # killed writers: no record used, no rc expectations
    line = next((l for l in so.splitlines() if "[multiwriter]" in l), "?")
    print(f"writer {w}: rc={p.returncode} {line}")
    for op, *counts in re.findall(
            r"(\w+) (\d+) committed (\d+) conflicted (\d+) no-op", line):
        tally = maintenance.setdefault(op, [0, 0, 0])
        for i, c in enumerate(counts):
            tally[i] += int(c)
    if p.returncode != 0:
        fail = True
        print(se[-3000:])
    else:
        outs.append(out)
for op, (c, x, n) in maintenance.items():
    print(f"maintenance {op}: {c} committed, {x} conflicted, {n} no-op")
if not any(c + x for c, x, _ in maintenance.values()):
    print("maintenance: no optimize, expire_partitions or rebucket call "
          "reached the commit claim in the finished writers")

for j, p in branch_procs:
    so, se = p.communicate(timeout=900)
    line = next((l for l in so.splitlines() if "[multiwriter]" in l), "?")
    print(f"branchloop {j}: rc={p.returncode} {line}")
    if p.returncode != 0 or "FAIL" in so:
        fail = True
        print(so[-2000:]); print(se[-3000:])
    else:
        outs.append(branch_outs[j - 1])

# quiet-phase publish: with the writers done, one sequential branch round
# must actually WIN its fast_forward (the live-contention loops above
# mostly exercise the loud-conflict lane)
if branches and not fail:
    out = os.path.join(work, "branch_quiet.tsv")
    r = run(["branchloop", table, "3", str(seed * 100 + 9), out])
    line = next((l for l in r.stdout.splitlines() if "[multiwriter]" in l), "?")
    print(f"branchloop quiet: rc={r.returncode} {line}")
    if r.returncode != 0 or "FAIL" in r.stdout or "(0 keys published)" in line:
        fail = True
        print(r.stdout[-2000:]); print(r.stderr[-2000:])
    else:
        outs.append(out)

for j, p in group_procs:
    so, se = p.communicate(timeout=900)
    if j in killed_group:
        continue  # killed coordinator: record unused, atomicity verified below
    line = next((l for l in so.splitlines() if "[multiwriter]" in l), "?")
    print(f"grouploop {j}: rc={p.returncode} {line}")
    if p.returncode != 0 or "FAIL" in so:
        fail = True
        print(so[-2000:]); print(se[-3000:])
    else:
        outs.append(group_outs[j - 1])

for j, p in txn_procs:
    so, se = p.communicate(timeout=900)
    if j in killed_txn:
        continue  # dead session: record unused, atomicity verified below
    line = next((l for l in so.splitlines() if "[multiwriter]" in l), "?")
    print(f"txnloop {j}: rc={p.returncode} {line}")
    if p.returncode != 0 or "FAIL" in so:
        fail = True
        print(so[-2000:]); print(se[-3000:])
    else:
        outs.append(txn_outs[j - 1])

# quiet-phase transaction: with the writers done, one sequential txn
# round must actually COMMIT (the live loops mostly lose the fork race)
if txn and not fail:
    out = os.path.join(work, "txn_quiet.tsv")
    r = run(["txnloop", table, side, "3", str(seed * 10000 + 9), out])
    line = next((l for l in r.stdout.splitlines() if "[multiwriter]" in l), "?")
    print(f"txnloop quiet: rc={r.returncode} {line}")
    if r.returncode != 0 or "FAIL" in r.stdout or "(0 keys published)" in line:
        fail = True
        print(r.stdout[-2000:]); print(r.stderr[-2000:])
    else:
        outs.append(out)

# quiet-phase group publish: with the writers done, one sequential round
# must actually WIN (the live-contention loops mostly lose the fork race)
if group and not fail:
    out = os.path.join(work, "group_quiet.tsv")
    r = run(["grouploop", table, side, "3", str(seed * 1000 + 9), out])
    line = next((l for l in r.stdout.splitlines() if "[multiwriter]" in l), "?")
    print(f"grouploop quiet: rc={r.returncode} {line}")
    if r.returncode != 0 or "FAIL" in r.stdout or "(0 keys published)" in line:
        fail = True
        print(r.stdout[-2000:]); print(r.stderr[-2000:])
    else:
        outs.append(out)

# the S44 invariant: after read-path recovery, main's group-key set must
# equal the sidecar's — a dead coordinator costs a round, never tears one
if (group or txn) and not fail:
    r = run(["verifygroup", table, side])
    for l in r.stdout.splitlines():
        if "[multiwriter]" in l:
            print(l)
    if r.returncode != 0 or "VERIFYGROUP OK" not in r.stdout:
        fail = True
        print(r.stderr[-3000:])

# the leaked-branch GC (after verifygroup's read-path recovery resolved
# any in-flight group): every loop is done, so any surviving hidden
# txn-* branch is a dead session's leak (the SIGKILLed txnloop); expire
# with ttl 0 must drop them all and move neither table's pointer
if txn and not fail:
    r = run(["expiretxn", table, side])
    for l in r.stdout.splitlines():
        if "[multiwriter]" in l:
            print(l)
    if r.returncode != 0 or "EXPIRETXN OK" not in r.stdout:
        fail = True
        print(r.stdout[-2000:]); print(r.stderr[-3000:])

for j, p in ref_procs:
    so, se = p.communicate(timeout=900)
    line = next((l for l in so.splitlines() if "[multiwriter]" in l), "?")
    print(f"refloop {j}: rc={p.returncode} {line}")
    if p.returncode != 0 or "FAIL" in so:
        fail = True
        print(so[-2000:]); print(se[-3000:])

# a crash lane that killed nothing proved nothing about crash recovery
if crash and not killed:
    fail = True
    print("--crash injected no kill: every writer finished first")

if not fail:
    vflags = (["--partial"] if crash or killed_group or killed_txn else []) + (
        ["--expired"] if (tags or branches) else [])
    r = run(["verify", table] + vflags + outs)
    for l in r.stdout.splitlines():
        if "[multiwriter]" in l:
            print(l)
    fail = r.returncode != 0 or "VERIFY OK" not in r.stdout
    if fail:
        print(r.stderr[-3000:])

print(f"multiproc fuzz: {'FAIL' if fail else 'PASS'} "
      f"(writers={n_writers} ops={n_ops} seed={seed}"
      f"{' crash-injected=' + str(sorted(killed)) if crash else ''}"
      f"{' mor' if mor else ''}{' part' if part else ''}"
      f"{' tags' if tags else ''}{' branches' if branches else ''}"
      f"{' group' if group else ''}{' txn' if txn else ''})")
sys.exit(1 if fail else 0)
