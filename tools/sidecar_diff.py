"""Compare the sidecars of two runs of tools/sidecar_seq.sc.

    python3 tools/sidecar_diff.py <parent out dir> <change out dir>

For every version directory of the first run: the _manifest/ and
_bloomtab/ tables must be equal row for row (same schema) and
_manifest_chain/fold.tsv byte-identical, with the part-file UUIDs masked;
_deletes/ rows must be equal as sets. Prints one line per artifact and
exits 1 on any difference.
"""
import glob, os, re, sys
import pyarrow.parquet as pq
P, C = sys.argv[1], sys.argv[2]
mask = lambda s: re.sub(r'part-(\d+)-[0-9a-f-]{36}', r'part-\1-UUID', s)
# NaN != NaN: compare floats by repr
norm = lambda v: mask(v) if isinstance(v, str) else repr(v) if isinstance(v, float) else v
bad = 0
for vdir in sorted(glob.glob(f'{P}/*/v*')):
    rel = os.path.relpath(vdir, P)
    for t in ('_manifest', '_bloomtab'):
        if os.path.isdir(f'{vdir}/{t}'):
            rd = lambda d: pq.read_table(d)
            ta, tb = rd(f'{vdir}/{t}'), rd(f'{C}/{rel}/{t}')
            ra = [{k: norm(v) for k, v in r.items()} for r in ta.to_pylist()]
            rb = [{k: norm(v) for k, v in r.items()} for r in tb.to_pylist()]
            same = ra == rb and ta.schema == tb.schema
            bad += not same
            print(rel, t, len(ra), 'rows', 'SAME' if same else 'DIFF')
    f = '_manifest_chain/fold.tsv'
    a, b = f'{vdir}/{f}', f'{C}/{rel}/{f}'
    if os.path.exists(a) or os.path.exists(b):
        same = (os.path.exists(a) and os.path.exists(b)
                and mask(open(a).read()) == mask(open(b).read()))
        bad += not same
        print(rel, f, 'SAME' if same else 'DIFF')
    if os.path.isdir(f'{vdir}/_deletes'):
        key = lambda d: sorted(set(map(tuple, (r.values() for r in pq.read_table(d).to_pylist()))))
        same = key(f'{vdir}/_deletes') == key(f'{C}/{rel}/_deletes')
        bad += not same
        print(rel, '_deletes (as sets)', 'SAME' if same else 'DIFF')
print('DIFFERENCES:', bad)
sys.exit(1 if bad else 0)
