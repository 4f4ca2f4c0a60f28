"""Layer-resolved benchmark of the paper's pipeline (pages → tiles).

Entry point: ``python3 pipebench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root. See
``pipebench/README.md``.
"""
