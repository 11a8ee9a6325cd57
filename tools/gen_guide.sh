#!/bin/bash
# Regenerate the machine-derived sections of USER_GUIDE.md from the code
# (graft.Guide): the cs_* SQL registry table and the gated-query index.
# Curated prose outside the GENERATED markers is left untouched.
set -e
cd "$(dirname "$0")/.."
sbt -batch compile -error
CP="target/scala-2.13/classes:/opt/spark/jars/*"
java -cp "$CP" graft.Guide registry > /tmp/guide_registry.md
java -cp "$CP" graft.Guide queries > /tmp/guide_queries.md
python3 - <<'EOF'
import re
p = 'USER_GUIDE.md'
s = open(p).read()
for marker, path in (('REGISTRY', '/tmp/guide_registry.md'),
                     ('QUERIES', '/tmp/guide_queries.md')):
    block = open(path).read().rstrip()
    s = re.sub(
        rf'(<!-- GENERATED:{marker} -->\n).*?(<!-- /GENERATED:{marker} -->)',
        lambda m: m.group(1) + block + '\n' + m.group(2),
        s, flags=re.S)
open(p, 'w').write(s)
print('USER_GUIDE.md regenerated')
EOF
