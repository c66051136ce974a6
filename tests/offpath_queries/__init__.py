"""DuckDB-checked queries for the operators off the paper path.

These were the driver-contract registry before ``__spark_entry__`` was cut
to the paper's 17 queries (``gridmet_etl_spark/contract.py``). They stay
as test assets: ``tests/test_contract.py`` runs each one and compares its
rows with its oracle SQL, exactly as it does for the 17 contract queries.
A query leaves this registry together with the operator it exercises.
"""

from .contract import CONTRACT_QUERIES
from .contract_ext import EXT_QUERIES
from .contract_ext2 import EXT2_QUERIES
from .contract_ext3 import EXT3_QUERIES
from .contract_ext4 import EXT4_QUERIES
from .contract_ext5 import EXT5_QUERIES
from .contract_ext6 import EXT6_QUERIES
from .contract_ext7 import EXT7_QUERIES
from .contract_ext8 import EXT8_QUERIES
from .contract_ext9 import EXT9_QUERIES
from .contract_ext10 import EXT10_QUERIES
from .contract_ext11 import EXT11_QUERIES
from .contract_ext12 import EXT12_QUERIES
from .contract_ext13 import EXT13_QUERIES
from .contract_ext14 import EXT14_QUERIES
from .contract_ext15 import EXT15_QUERIES
from .contract_ext16 import EXT16_QUERIES
from .contract_ext17 import EXT17_QUERIES
from .contract_ext18 import EXT18_QUERIES
from .contract_ext19 import EXT19_QUERIES
from .contract_ext20 import EXT20_QUERIES
from .contract_ext21 import EXT21_QUERIES
from .contract_ext22 import EXT22_QUERIES
from .contract_ext23 import EXT23_QUERIES
from .contract_ext24 import EXT24_QUERIES
from .contract_ext25 import EXT25_QUERIES
from .contract_ext26 import EXT26_QUERIES
from .contract_ext27 import EXT27_QUERIES
from .contract_ext28 import EXT28_QUERIES
from .contract_ext29 import EXT29_QUERIES
from .contract_ext30 import EXT30_QUERIES
from .contract_ext31 import EXT31_QUERIES
from .contract_ext32 import EXT32_QUERIES
from .contract_ext33 import EXT33_QUERIES

OFFPATH_QUERIES = {
    **CONTRACT_QUERIES,
    **EXT_QUERIES,
    **EXT2_QUERIES,
    **EXT3_QUERIES,
    **EXT4_QUERIES,
    **EXT5_QUERIES,
    **EXT6_QUERIES,
    **EXT7_QUERIES,
    **EXT8_QUERIES,
    **EXT9_QUERIES,
    **EXT10_QUERIES,
    **EXT11_QUERIES,
    **EXT12_QUERIES,
    **EXT13_QUERIES,
    **EXT14_QUERIES,
    **EXT15_QUERIES,
    **EXT16_QUERIES,
    **EXT17_QUERIES,
    **EXT18_QUERIES,
    **EXT19_QUERIES,
    **EXT20_QUERIES,
    **EXT21_QUERIES,
    **EXT22_QUERIES,
    **EXT23_QUERIES,
    **EXT24_QUERIES,
    **EXT25_QUERIES,
    **EXT26_QUERIES,
    **EXT27_QUERIES,
    **EXT28_QUERIES,
    **EXT29_QUERIES,
    **EXT30_QUERIES,
    **EXT31_QUERIES,
    **EXT32_QUERIES,
    **EXT33_QUERIES,
}
