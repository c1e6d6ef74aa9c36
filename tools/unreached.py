#!/usr/bin/env python3
"""List the src/main members no root reaches (specs are not callers).

Usage, from the repository root: python3 tools/unreached.py

Indexes top-level and object-level def/val/var/object/class/trait members
of src/main and follows name references (comments stripped) to a fixed
point from the roots: SparkEntry.queries/oracleSql/entry, every `main`,
the names perfbench/src and tools/check.py use, and KEEP. `Obj.name`
reaches that member of object Obj, a bare name the enclosing object's own
member first; any other use reaches every member so named. A collision
can so hide dead code but never flags live code. Prints each unreached
member as file:line; exits 1 if one is outside KEEP.
"""
import glob, re, sys

KEEP = {  # no caller in main, kept on purpose: the paper's surface, safety code, spec references
    "AdsbStream.socketLines": "S1 ingest", "AdsbStream.fileLines": "S2 ingest",
    "AdsbStream.supervise": "S1 restarts", "AdsbStream.sessionizeReordered": "reorder buffer",
    "AdsbStream.positionsLive": "S7 live slice", "AdsbStream.startJdbc": "S6 sink",
    "Sinks.writeJdbc": "S6 sink", "Sinks.deleteBatch": "S6 replay", "Sinks.copySession": "S9",
    "AdsbPipeline.registerViews": "SQL surface", "Meta.registerMetaViews": "SQL surface",
    "Tables.registerAll": "SQL surface", "IndexMaintenance.recoverPersisted": "crash recovery",
    "IndexMaintenance.recoverReindex": "crash recovery",
    "IndexMaintenance.recoverRebuild": "crash recovery", "Similarity.dotFixed": "PqSpec reference",
    "Bm25.search": "Bm25Spec reference", "Pq.search": "PqSpec reference",
    "IvfPq.search": "IvfPqSpec reference"}
DECL = re.compile(r"^[ \t]*(?:@\w+[ \t]+)*(?:(?:private|protected)(?:\[\w+\])?[ \t]+|(?:override|"
                  r"final|implicit|lazy|sealed|abstract|case)[ \t]+)*(def|val|var|object|class|trait)"
                  r"[ \t]+([A-Za-z_]\w*)", re.M)
LEX = re.compile(r'"""[\s\S]*?"""(?!")|"(?:\\.|[^"\\\n])*"|//[^\n]*|/\*[\s\S]*?\*/|'
                 r"'(?:\\u\w{4}|\\.|[^\\'\n])'")


def lex(src):
    """Comments dropped (newlines kept), braces in literals blanked."""
    return LEX.sub(lambda m: "\n" * m[0].count("\n") if m[0][0] == "/"
                   else re.sub(r"[{}]", " ", m[0]), src)


members = []  # (owner, name, kind, file:line, body, kind of the top-level owner)
for path in sorted(glob.glob("src/main/scala/**/*.scala", recursive=True)):
    text, depth = lex(open(path).read()), [0]
    for c in text:
        depth.append(depth[-1] + (c == "{") - (c == "}"))
    decls = [m for m in DECL.finditer(text) if depth[m.start()] <= 1]
    for k, m in enumerate(decls):
        top = depth[m.start()] == 0
        owner = (m[2], m[1]) if top else owner
        body = text[m.start():decls[k + 1].start() if k + 1 < len(decls) else None]
        where = "%s:%d" % (path, text.count("\n", 0, m.start()) + 1)
        members.append((None if top else owner[0], m[2], m[1], where, body, owner[1]))
objects, by_name, reached, work = {m[1] for m in members if m[0] is None}, {}, set(), []
for i, m in enumerate(members):
    by_name.setdefault(m[1], []).append(i)


def reach(i):
    if i not in reached:
        reached.add(i)
        work.append(i)


def use(text, owner=None):
    toks = re.findall(r"[A-Za-z_]\w*|\.", text)
    for k, name in enumerate(toks):
        qual = toks[k - 2] if k > 1 and toks[k - 1] == "." else None
        named = by_name.get(name, [])
        for i in [i for i in named if qual is None and members[i][0] == owner] or named:
            if qual not in objects or members[i][0] in (qual, None):
                reach(i)


for i, m in enumerate(members):
    if m[1] == "main" or f"{m[0]}.{m[1]}" in KEEP or \
            (m[0] == "SparkEntry" and m[1] in ("queries", "oracleSql", "entry")):
        reach(i)
for path in glob.glob("perfbench/src/**/*.scala", recursive=True) + ["tools/check.py"]:
    use(open(path).read())
while work:
    owner, name, _, _, body, okind = members[work.pop()]
    use(body, owner or name)
    for j, o in enumerate(members):  # what the framework calls, and an object's header
        if owner is None and o[0] == name and (okind != "object" or o[1] in ("apply", "unapply")
                                               or re.match(r"[^=\n]*\b(override|implicit) ", o[4])) \
                or owner and okind == "object" and o[0] is None and o[1] == owner:
            reach(j)
dead = [m for i, m in enumerate(members) if i not in reached]
for owner, name, kind, where, *_ in dead:
    print(f"{where}: {kind} {owner + '.' if owner else ''}{name}")
sys.exit(1 if any(f"{m[0]}.{m[1]}" not in KEEP for m in dead) else 0)
