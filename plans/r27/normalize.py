"""Strip run-specific ids from a graft.PlanAudit dump so two commits'
executed plans can be diffed line by line.

Usage: python3 normalize.py <dump.txt> <out.txt>

Replaces the temporary warehouse dir, data-file UUIDs, expression ids
(`#123`), plan ids, operator numbers (`(12)`), codegen ids, query-stage
numbers, lambda class names and identity hashes.
"""
import re
import sys

s = open(sys.argv[1]).read()
s = re.sub(r'(file:)?(<tmp>|/tmp)/graft-[a-z-]+\d+', '<tmp>', s)
s = re.sub(r'(file:)?/tmp/[A-Za-z0-9_.-]+', '<tmp>', s)
s = re.sub(r'[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}', '<uuid>', s)
s = re.sub(r'#\d+L?', '#', s)
s = re.sub(r'plan_id=\d+', 'plan_id=', s)
s = re.sub(r'\(\d+\)', '(N)', s)
s = re.sub(r'\[codegen id : \d+\]', '[codegen id]', s)
s = re.sub(r'\*\(\d+\)', '*(N)', s)
s = re.sub(r'(QueryStage|Stage|stage) \d+', r'\1 N', s)
s = re.sub(r'\$\$Lambda[^ ,\])]*', '$$Lambda', s)
s = re.sub(r'lambda\$[A-Za-z0-9_$]+', 'lambda', s)
s = re.sub(r'@[0-9a-f]{4,}', '@H', s)
s = re.sub(r'_\d+#', '_#', s)
s = re.sub(r'Arguments: \d+', 'Arguments: N', s)
s = re.sub(r'id=\d+', 'id=N', s)
open(sys.argv[2], 'w').write(s)
